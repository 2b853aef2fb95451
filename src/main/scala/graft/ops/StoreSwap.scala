package graft.ops

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, count, lit}

/** The ONE persisted-store lifecycle every tombstoned store shares
  * (the r15 search-segment move, generalized in round 18 to the
  * near-dup, media, and ANN stores): a store is declared once as a
  * [[Store]], its deletes are anti-joined by [[dropDead]], and a
  * compaction ([[rewrite]], [[compact]], [[compactIfNeeded]]) writes
  * the rewritten tables into a scratch sibling of the live store, then
  * swaps them in under the [[IndexMeta]] torn-write contract — the
  * stamp is replaced by [[SwapPoison]] before the first destructive
  * move and by the real version after the last, so a crash mid-swap
  * leaves a poison-stamped (unservable, un-appendable,
  * un-RE-compactable) store instead of a silent mix of old and new
  * rows. On a real object store the swap is a manifest pointer flip;
  * the filesystem moves here are the local-mode equivalent.
  *
  * Two layouts, matching the two persisted-store shapes in the engine:
  *  - subtable stores (BM25 postings/lexicon/stats, the d21
  *    signatures/bands/hashes index, the IVFPQ codes/assign dirs, the
  *    d32 buckets): only the named subdirectories are replaced,
  *    anything else under the store dir survives.
  *  - root stores (the m10 frame store, whose parquet files live at
  *    the store root): the whole directory's data is replaced. */
object StoreSwap {
  /** A persisted store as a compaction sees it: the stamped `dir`, the
    * `version` it must carry, the `key` its tombstones name, and the
    * `subs` subtables a compaction rewrites — empty when the rows live
    * at the dir root. */
  final case class Store(dir: String, version: String, key: String,
                         subs: Seq[String])

  /** Lucene's deletes-percentage merge policy, minimal version: pay
    * the rebuild when the tombstoned rows have grown past this share
    * of the store's rows. Below it the serve-time anti-join stays the
    * cheaper deal; above it, every query is re-paying more than one
    * compaction would cost. */
  val MaxDeleteRatio = 0.1

  /** Scratch path a compaction writes its rewritten tables into —
    * a sibling of the live store (same filesystem, so the swap is a
    * rename, not a copy). */
  def scratch(dir: String): String = s"$dir.compacting"

  /** `rows` minus every row whose `key` is tombstoned — the one
    * tombstone anti-join of the engine. The delete set is small by
    * definition, so it is deduplicated and broadcast: the big side
    * never shuffles, and a set delivered with replays or duplicate ids
    * drops each row once. */
  def dropDead(rows: DataFrame, key: String, tombstones: DataFrame): DataFrame =
    rows.join(deadIds(key, tombstones), Seq(key), "left_anti")

  /** The distinct tombstoned `key`s, broadcast — the set [[dropDead]]
    * anti-joins, for callers that also semi-join or count it. */
  def deadIds(key: String, tombstones: DataFrame): DataFrame =
    broadcast(tombstones.select(col(key)).distinct())

  /** Rewrite `store` beside itself and swap it in: refuse a torn,
    * stale or poison-stamped store (a compaction of a tear would
    * launder it under a fresh stamp), clear any scratch a crashed
    * compaction left behind (its content is garbage by definition —
    * the live store was never touched before the swap), let `write`
    * fill the scratch dir with the new tables, then swap them in. */
  def rewrite(store: Store)(write: String => Unit): Unit = {
    IndexMeta.checkVersion(store.dir, store.version)
    val tmp = scratch(store.dir)
    clearTree(new File(tmp),
      "stale compaction scratch — remove it and re-run")
    write(tmp)
    if (store.subs.isEmpty) swapDir(store.dir, store.version)
    else swapSubtables(store.dir, store.subs, store.version)
  }

  /** EXPUNGE-DELETES compaction of `stores`, in order: each table
    * loses its tombstoned rows ([[dropDead]]) through [[rewrite]]. A
    * store whose rows are pure per-key functions needs nothing else,
    * so the compacted store equals a publish over the remainder. */
  def compact(spark: SparkSession, stores: Seq[Store],
              tombstones: DataFrame): Unit =
    stores.foreach { st =>
      rewrite(st) { tmp =>
        tables(st).foreach { sub =>
          dropDead(read(spark, st, sub), st.key, tombstones)
            .write.mode("overwrite").parquet(at(tmp, sub))
        }
      }
    }

  /** [[compact]] behind the deletes-ratio merge policy: compact only
    * when the tombstoned rows of the store's first table have reached
    * [[MaxDeleteRatio]] of its rows. Returns whether it compacted, so
    * the caller knows when the tombstone set can retire — the decision
    * loop a nightly maintenance job runs. The two counts come from ONE
    * scan of that table (a broadcast left join, count(non-null)): a
    * semi-join count plus a full count would scan it twice for a
    * decision that usually says "don't compact". */
  def compactIfNeeded(spark: SparkSession, store: Store,
                      tombstones: DataFrame): Boolean = {
    IndexMeta.checkVersion(store.dir, store.version)
    val row = read(spark, store, tables(store).head).select(col(store.key))
      .join(deadIds(store.key, tombstones).withColumn("_dead", lit(1)),
        Seq(store.key), "left")
      .agg(count(lit(1)).as("total"), count(col("_dead")).as("dead"))
      .head()
    val (total, dead) = (row.getLong(0), row.getLong(1))
    val go = total > 0 && dead.toDouble >= MaxDeleteRatio * total.toDouble
    if (go) compact(spark, Seq(store), tombstones)
    go
  }

  private def tables(store: Store): Seq[String] =
    if (store.subs.isEmpty) Seq("") else store.subs

  private def at(root: String, sub: String): String =
    if (sub.isEmpty) root else s"$root/$sub"

  // recursive: a store may mix a flat publisher write with
  // stream-appended batchId subdirs (MediaStream's idempotent sink)
  private def read(spark: SparkSession, store: Store, sub: String): DataFrame =
    graft.streaming.Drain.readSink(spark, at(store.dir, sub))

  /** The stamp value a store carries WHILE a swap is rewriting it —
    * a POISON stamp, not a mere unstamp: an unstamped store is
    * indistinguishable from a torn APPEND, whose recovery contract
    * (checkpointed restart replays the in-flight batch and re-stamps)
    * would LAUNDER a half-swapped store back to validity. Under the
    * poison value every checked load and every appender's version
    * check fails with a self-explanatory `store=compaction-in-progress`
    * message, re-compaction refuses too (checkVersion at its top), and
    * the only way forward is a full republish — which unstamps,
    * rewrites everything, and stamps clean. */
  val SwapPoison = "compaction-in-progress"

  /** Swap subdirectories `subs` of the live store at `dir` for the
    * same-named subdirectories under [[scratch]]`(dir)` (already fully
    * written by the caller), then re-stamp with `version`. The caller
    * must have verified the live store's stamp BEFORE rewriting (a
    * compaction of a torn store would launder the tear). A crash
    * anywhere inside the swap leaves the [[SwapPoison]] stamp — every
    * consumer fails loudly, nothing can mistake the mix of old and
    * new subtables for either generation. */
  private def swapSubtables(dir: String, subs: Seq[String], version: String): Unit = {
    IndexMeta.stampVersion(dir, SwapPoison)
    val tmp = scratch(dir)
    subs.foreach { sub =>
      // a clear that silently left residue would surface as a
      // confusing Files.move failure mid-swap; fail loudly instead —
      // the store is poison-stamped, so it cannot serve torn
      clearTree(new File(dir, sub),
        "store left poison-stamped (unservable); republish it")
      java.nio.file.Files.move(
        new File(tmp, sub).toPath,
        new File(dir, sub).toPath)
      ()
    }
    deleteTree(new File(tmp))
    IndexMeta.stampVersion(dir, version)
  }

  /** Whole-directory variant of [[swapSubtables]] for single-table
    * stores: replace the live store's DATA FILES with the scratch
    * dir's, then re-stamp. The store directory itself (and its poison
    * stamp) survive the whole swap — deleting the directory would
    * open a store-never-existed window in which an appender's
    * existing-store guards simply don't fire and the standing corpus
    * silently vanishes under a fresh valid stamp. */
  private def swapDir(dir: String, version: String): Unit = {
    IndexMeta.stampVersion(dir, SwapPoison)
    val tmp = scratch(dir)
    val d = new File(dir)
    val kids = d.listFiles()
    if (kids != null) kids.foreach { kid =>
      if (kid.getName != IndexMeta.StampFile)
        clearTree(kid,
          "store left poison-stamped (unservable); republish it")
    }
    val tkids = new File(tmp).listFiles()
    if (tkids != null) tkids.foreach { kid =>
      java.nio.file.Files.move(kid.toPath,
        new File(d, kid.getName).toPath)
      ()
    }
    deleteTree(new File(tmp))
    IndexMeta.stampVersion(dir, version)
  }

  /** [[deleteTree]] with the clear VERIFIED — for the swap sites where
    * leftover files would corrupt or confuse the subsequent move. */
  def clearTree(f: File, consequence: String): Unit = {
    deleteTree(f)
    if (f.exists())
      throw new IllegalStateException(
        s"could not fully remove $f — $consequence")
  }

  /** Delete `f` and everything under it, never following a directory
    * symlink — the link itself goes, not its target's contents. */
  def deleteTree(f: File): Unit = {
    if (!java.nio.file.Files.isSymbolicLink(f.toPath)) {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(deleteTree)
    }
    f.delete()
    ()
  }
}
