package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** The ONE copy of the stream plumbing every `graft.streaming` runner
  * shares: the documents and embeddings schemas, the file-stream
  * reader ([[read]]), the availableNow memory-sink runner ([[toMemory]]),
  * the availableNow checkpointed `foreachBatch` runner
  * ([[availableNow]]) with its idempotent sink ([[appendBatch]],
  * [[readSink]], [[guardSinks]]), and its stamped-store form
  * ([[availableNowStamped]]). Each stream keeps only its transform,
  * its output mode and its sink.
  *
  * Exactly-once across restarts needs BOTH halves:
  *  - `checkpointDir` makes the SOURCE exact: a re-run replays only
  *    batches whose offsets were not yet committed. Without one (None —
  *    the single-shot spec/harness mode) every invocation reprocesses
  *    the whole directory, so `body`'s appends must target a fresh
  *    location or rows silently double.
  *  - the SINK must be idempotent under replay of the one in-flight
  *    batch: a crash INSIDE a batch (rows appended, offset not yet
  *    committed) replays that batch with the SAME batchId on restart.
  *    A plain `mode("append")` sink doubles its rows; [[appendBatch]] —
  *    batchId-keyed subdirectory, overwrite semantics — lands the
  *    replay on the same subdir and cannot. Every graft runner that
  *    claims restart recovery appends through it and reads back
  *    through [[readSink]]. */
object Drain {
  /** The harness documents schema, declared explicitly — streaming
    * reads never infer. */
  val DocumentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** The harness embeddings schema, declared explicitly — streaming
    * reads never infer. */
  val EmbeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Open the parquet files under `dir` matching `glob` as a stream
    * under an explicit `schema`. FileStreamSource wants a directory, so
    * a single file streams its directory with a glob filter — which is
    * also the production shape: new files landing in the directory are
    * picked up incrementally. */
  def read(spark: SparkSession, dir: String, schema: StructType,
           glob: String): DataFrame =
    spark.readStream.schema(schema).option("pathGlobFilter", glob)
      .parquet(dir)

  /** Run `stream` to completion over what has arrived (availableNow)
    * into the in-memory table `sinkTable`, and return that table. */
  def toMemory(stream: Dataset[_], outputMode: String,
               sinkTable: String): DataFrame = {
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .outputMode(outputMode)
      .format("memory")
      .queryName(sinkTable)
      .start()
      .awaitTermination()
    stream.sparkSession.table(sinkTable)
  }

  /** Guard standing [[appendBatch]] sinks against CHECKPOINT-LINEAGE
    * MIXUPS: batchIds are unique only PER CHECKPOINT, so a drain under
    * a NEW or recreated checkpoint restarts at batch 0 and its
    * `mode(overwrite)` b0 write silently REPLACES the standing b0
    * subdir — data loss where the plain append sink it replaced merely
    * doubled rows (loudly). The guard fails the drain up front when a
    * sink already holds batchId subdirs while the checkpoint has never
    * planned a batch (no offsets/commits entries — a fresh or
    * recreated checkpoint, or none at all): the caller must clear the
    * sink (the single-shot harness discipline) or resume from the
    * ORIGINAL checkpoint. A mid-batch crash restart passes — the
    * original checkpoint's offsets entry proves the standing subdirs
    * belong to THIS lineage, and the replay's same-batchId overwrite
    * is exactly the idempotent recovery the sink exists for. */
  def guardSinks(sinks: Seq[String], checkpointDir: Option[String]): Unit = {
    val lineageKnown = checkpointDir.exists(cp =>
      Seq("offsets", "commits").exists(sub =>
        visible(new java.io.File(cp, sub)).nonEmpty))
    if (!lineageKnown) {
      val stale = sinks.filter(p => visible(new java.io.File(p))
        .exists(f => f.isDirectory && f.getName.matches("b\\d+")))
      if (stale.nonEmpty) {
        val why = checkpointDir match {
          case Some(cp) =>
            s"the checkpoint at $cp has never planned a batch (fresh " +
              "or recreated)"
          case None => "no stream checkpoint was provided"
        }
        throw new IllegalStateException(
          s"sink(s) ${stale.mkString(", ")} already hold batchId-keyed " +
            s"subdirs from a previous drain, but $why — this run's " +
            "batchIds restart at 0 and batch b0 would silently " +
            "OVERWRITE the standing b0 data; clear the sink or resume " +
            "from the original checkpoint")
      }
    }
  }

  /** Run `stream` to completion over what has arrived (availableNow),
    * handing each micro-batch — WITH its batchId — to `body` with exact
    * batch semantics, after [[guardSinks]] has checked `sinks`. */
  def availableNow(stream: DataFrame, outputMode: String,
                   checkpointDir: Option[String], sinks: Seq[String])
                  (body: (DataFrame, Long) => Unit): Unit = {
    guardSinks(sinks, checkpointDir)
    val writer = stream.writeStream.outputMode(outputMode)
    checkpointDir.fold(writer)(cp => writer.option("checkpointLocation", cp))
      .foreachBatch { (batch: DataFrame, id: Long) => body(batch, id) }
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
  }

  /** [[availableNow]] appending into the version-stamped store at
    * `storeDir` ([[graft.ops.IndexMeta]]) — the one torn-append
    * protocol of every streamed store (the segment stores of
    * [[IndexStream]], the frame store of [[MediaStream]]):
    *  - the store EXISTS when its dir holds a visible entry (not `_`-
    *    or `.`-prefixed) or a stamp; an empty or absent dir is fresh.
    *    The stamp counts on its own because a compaction crash between
    *    clearing a table and moving its rewrite in can leave a
    *    poison-stamped store with no data entry at all — treated as
    *    fresh, it would be drained over and re-stamped valid.
    *  - appending rows built under a DIFFERENT definition than the
    *    standing rows would corrupt the store silently, so an existing
    *    stamped store is version-checked first. A POISON-stamped store
    *    ([[graft.ops.StoreSwap.SwapPoison]]) is a crashed compaction
    *    swap, not a torn append — a replay would launder the
    *    half-swapped mix — so it fails that check loudly.
    *  - an EXISTING but UNSTAMPED store is a crashed append: only a
    *    CHECKPOINTED restart may touch it (the checkpoint replays
    *    exactly the one uncommitted batch, whose batchId-keyed
    *    overwrite completes the append without doubling); an
    *    uncheckpointed re-run would reprocess everything under fresh
    *    batchIds that need not match the standing subdirs. And it may
    *    only be completed under the version it was running under: the
    *    standing unstamped rows carry no stamp to check, so the
    *    `_PENDING_VERSION` marker written at the original unstamp is
    *    the only witness (ADVICE r18).
    *  - the stamp comes off for the duration of the append — LAZILY,
    *    at the first batch, so a drain that fails before touching the
    *    store (bad source dir, bad glob, an analysis error in the first
    *    batch's plan) leaves a healthy store stamped and servable.
    *  - the store is re-stamped only when this run mutated it or it
    *    completes a torn append whose batches had all committed (crash
    *    between drain return and stamp): a zero-arrival drain over a
    *    never-existing store must not mint a stamped-but-empty store,
    *    and one over a healthy store has nothing to re-stamp. */
  def availableNowStamped(stream: DataFrame, storeDir: String,
                          version: String, checkpointDir: Option[String],
                          sinks: Seq[String])
                         (body: (DataFrame, Long) => Unit): Unit = {
    import graft.ops.IndexMeta
    val stamped = IndexMeta.isStamped(storeDir)
    val exists = stamped || visible(new java.io.File(storeDir))
      .exists(!_.getName.startsWith("_"))
    val tornAppend = exists && !stamped
    if (stamped) IndexMeta.checkVersion(storeDir, version)
    if (tornAppend) {
      require(checkpointDir.isDefined,
        s"store at $storeDir is mid-append (unstamped); only a restart " +
          "from the original stream checkpoint can complete it — an " +
          "uncheckpointed re-run would double its rows. Provide the " +
          "checkpoint or clear the store.")
      val pending = IndexMeta.pendingVersion(storeDir)
      require(pending.contains(version),
        s"store at $storeDir is mid-append under engine version " +
          s"'${pending.getOrElse("<unrecorded>")}' but the engine now " +
          s"runs '$version' — completing the append would stamp " +
          "old-definition rows as current; republish the store.")
    }
    val unstamped = new java.util.concurrent.atomic.AtomicBoolean(false)
    availableNow(stream, "append", checkpointDir, sinks) { (batch, id) =>
      if (unstamped.compareAndSet(false, true)) {
        // pending marker FIRST, then the unstamp: a crash between the
        // two leaves a stamped store with a stale marker (harmless —
        // the stamp stays authoritative) rather than an unstamped
        // store with no recorded in-flight version
        IndexMeta.notePending(storeDir, version)
        IndexMeta.unstamp(storeDir)
      }
      body(batch, id)
    }
    if (unstamped.get() || tornAppend) {
      IndexMeta.stampVersion(storeDir, version)
      IndexMeta.clearPending(storeDir)
    }
  }

  /** The entries of `d` that are not `.`-prefixed (none if `d` is
    * absent). */
  private def visible(d: java.io.File): Array[java.io.File] = {
    val kids = d.listFiles()
    if (kids == null) Array.empty
    else kids.filterNot(_.getName.startsWith("."))
  }

  /** IDEMPOTENT per-batch parquet append: batch `batchId`'s rows write
    * to their own batchId-keyed subdirectory with OVERWRITE semantics.
    * Structured Streaming re-invokes an uncommitted batch with the
    * same batchId after a restart, so the replay overwrites its own
    * subdir instead of doubling rows — the standard foreachBatch
    * exactly-once sink idiom (a transactional table would do the same
    * with the batchId as the transaction key). A crash mid-write
    * leaves only that subdir torn, and the replay's overwrite clears
    * it before rewriting. Read the sink back with [[readSink]]. */
  def appendBatch(df: DataFrame, outPath: String, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(s"$outPath/b$batchId")

  /** Read a sink/store directory that mixes [[appendBatch]] subdirs
    * with plain top-level parquet files (a standing segment written by
    * a batch publisher plus streamed batch subdirs): recursive file
    * listing, NO partition inference — the subdir names are commit
    * units, not data. Hidden files (`_`-prefixed stamps, _SUCCESS)
    * stay excluded as in any parquet read. */
  def readSink(spark: SparkSession, path: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(path)
}
