package graft

/** CLI smoke surface: runs the flagship pipeline (SparkEntry.entry) and
  * prints the reports, or processes a JSON request body passed as arg(0)
  * (a file path or an inline JSON string). */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = Conf.localSession(Conf.Env.cpus(default = 4))
    spark.sparkContext.setLogLevel("ERROR")

    val out = args.headOption match {
      case None => SparkEntry.entry(spark)
      case Some(arg) =>
        val body =
          if (new java.io.File(arg).exists())
            new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(arg)), "UTF-8")
          else arg
        etl.Pipeline.run(spark, body)
    }
    val rows = out.collect()
    println(s"=== ${rows.length} report(s)")
    rows.foreach { r =>
      println(s"--- record_id=${r.getString(0)}")
      println(r.getString(1))
      println(s"--- request=${r.getString(2)}")
    }
    spark.stop()
  }
}
