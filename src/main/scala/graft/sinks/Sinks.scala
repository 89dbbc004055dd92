package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Sinks (SURVEY.md §2.2). The reference's loads are BigQuery jobs; here
  * they are parquet-directory writes with the same delivery semantics.
  */
object Sinks {

  /** K1/K2 — append load (ref: config/bigquery/bigquery.py:273-309
    * WRITE_APPEND). */
  def append(df: DataFrame, path: String): Unit =
    df.write.mode("append").parquet(path)

  /** K1 variant — schema-enforced append. The reference's append load
    * takes a declared schema and marks every field REQUIRED
    * (ref: config/bigquery/bigquery.py:279-283); this is the Spark
    * equivalent plus SURVEY §1.2's cast-at-the-edge staging mode:
    * every declared column is cast to its declared type, a null in a
    * non-nullable field fails the write via a distributed `raise_error`
    * (no extra validation pass over the data), and undeclared columns
    * are dropped — the declared schema is the contract.
    */
  def appendWithSchema(df: DataFrame, schema: org.apache.spark.sql.types.StructType,
                       path: String): Unit = {
    import org.apache.spark.sql.functions._
    val projected = schema.fields.toIndexedSeq.map { f =>
      val c = col(f.name).cast(f.dataType)
      if (f.nullable) c.as(f.name)
      else when(c.isNull, raise_error(lit(s"NULL in REQUIRED field '${f.name}'")))
        .otherwise(c).as(f.name)
    }
    df.select(projected: _*).write.mode("append").parquet(path)
  }

  /** K4 — parquet write with explicit compression
    * (ref: config/gcs/gcs.py:204-229). */
  def parquet(df: DataFrame, path: String, codec: String = "snappy"): Unit =
    df.write.mode("overwrite").option("compression", codec).parquet(path)

  /** ORC write — columnar interchange with Hive-side consumers; same
    * compression option surface as the parquet sink. */
  def orc(df: DataFrame, path: String, codec: String = "zlib"): Unit =
    df.write.mode("overwrite").option("compression", codec).orc(path)

  /** Atomic snapshot swap for the upsert sink: write `<path>__tmp`, then
    * rename over the live dir. The staging-table + MERGE + TRUNCATE dance
    * (bigquery.py:206-271) becomes write-then-rename; readers see either
    * the old snapshot or the new one, never a half write (SURVEY.md §7.4.1).
    */
  def snapshotSwap(df: DataFrame, path: String,
                   partitionCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(path + "__tmp")
    val live = new Path(path)
    val old = new Path(path + "__old")
    recoverSwap(spark, path) // heal a predecessor's rename-window crash
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(tmp.toString)
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(live)) renameOrFail(fs, live, old)
    renameOrFail(fs, tmp, live)
    fs.delete(old, true)
  }

  /** Snapshot publish dispatch: `spark.graft.swap=marker` selects the
    * object-store-safe marker protocol; the default `rename` keeps the
    * directory-rename swap (correct on HDFS/local where dir rename is
    * atomic O(1); on object stores dir "rename" is a non-atomic O(n)
    * copy, which is exactly the half-write window the marker closes). */
  def snapshotPublish(df: DataFrame, path: String): Unit =
    if (df.sparkSession.conf.get("spark.graft.swap", "rename") == "marker")
      snapshotSwapMarker(df, path)
    else snapshotSwap(df, path)

  /** Object-store-safe snapshot publish: data goes to an immutable
    * `<path>__versions/<uuid>` directory, then a single small pointer
    * file `<path>__current` is atomically replaced to name it. The only
    * visibility point is the pointer write — one-object replacement,
    * which is atomic on object stores (single PUT) and done here through
    * `FileContext.rename(OVERWRITE)` (atomic on HDFS/local too). However
    * long and non-atomic the multi-file data copy is, a reader resolving
    * the pointer sees either the complete old version or the complete
    * new one — never a half write.
    *
    * The version being replaced survives one publish (readers that
    * resolved the old pointer mid-publish are still reading it); only
    * older generations are reclaimed. Readers resolve through
    * `readSnapshot`; `snapshotExists` answers the bootstrap question in
    * marker mode.
    */
  def snapshotSwapMarker(df: DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val version = java.util.UUID.randomUUID().toString
    df.write.mode("error").parquet(s"${path}__versions/$version")
    val keep = currentVersion(spark, path).toSet + version
    writeMarkerAtomic(spark, path, version)
    // reclaim generations older than (new, just-replaced)
    val versionsRoot = new Path(s"${path}__versions")
    fs.listStatus(versionsRoot)
      .filter(st => st.isDirectory && !keep.contains(st.getPath.getName))
      .foreach(st => fs.delete(st.getPath, true))
  }

  /** Pointer-aware snapshot read: marker present → the named immutable
    * version; otherwise the plain path (rename-mode layout). */
  def readSnapshot(spark: SparkSession, path: String): DataFrame =
    currentVersion(spark, path) match {
      case Some(v) => spark.read.parquet(s"${path}__versions/$v")
      case None => spark.read.parquet(path)
    }

  /** Does a published snapshot exist under either protocol? */
  def snapshotExists(spark: SparkSession, path: String): Boolean = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    currentVersion(spark, path).isDefined || fs.exists(new Path(path))
  }

  /** Is a MARKER-protocol version pointer present at `path`? Discriminates
    * the marker layout from a plain/partitioned directory — readers that
    * must prefer marker-published data over a pre-switch rename-era
    * layout at the same path key on this, not on [[snapshotExists]]
    * (which answers "any snapshot at all"). */
  def versionPointerExists(spark: SparkSession, path: String): Boolean =
    currentVersion(spark, path).isDefined

  private def currentVersion(spark: SparkSession, path: String): Option[String] = {
    val marker = new Path(s"${path}__current")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) None
    else {
      val in = fs.open(marker)
      try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8).trim)
      finally in.close()
    }
  }

  private def writeMarkerAtomic(spark: SparkSession, path: String, version: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val marker = new Path(s"${path}__current")
    val tmp = new Path(s"${path}__current.tmp-$version")
    val fs = marker.getFileSystem(conf)
    // sweep tmp markers orphaned by publishes that died between create
    // and rename (ours doesn't exist yet — unique version suffix)
    fs.globStatus(new Path(s"${path}__current.tmp-*"))
      .foreach(st => fs.delete(st.getPath, false))
    val out = fs.create(tmp, true)
    try out.write(version.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // single-file atomic replace; the object-store implementation of this
    // seam is one PUT of the marker object
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(marker.toUri, conf)
    fc.rename(tmp, marker, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Hidden-dir prefix for a partition's superseded version during a swap.
    * Dot-prefixed names are invisible to Spark's file listing, so readers
    * never see a retired partition as data. */
  private val OldPartPrefix = ".graft-old-"

  /** Hadoop `FileSystem.rename` reports most failures by RETURNING FALSE
    * (src vanished, dst exists, local renameTo failure), not throwing —
    * a swap step that ignores the boolean would keep going and delete
    * the only surviving copy. Every rename in the swap/recovery protocol
    * goes through this. */
  private[graft] def rename(fs: org.apache.hadoop.fs.FileSystem,
                            src: Path, dst: Path): Unit = renameOrFail(fs, src, dst)

  private def renameOrFail(fs: org.apache.hadoop.fs.FileSystem,
                           src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename failed: $src -> $dst")

  /** Heal [[snapshotSwap]]'s one non-atomic window: a crash between the
    * `live → __old` and `__tmp → live` renames leaves NO live dir, with
    * the pre-swap snapshot intact in `__old` — a reader that treats the
    * missing dir as "no state yet" would silently restart from empty
    * (fatal for non-rederivable state like the CMS ledger). Restore the
    * PRE-swap snapshot: the crashed fold never acknowledged, so the
    * at-least-once driver replays it against the restored state; the
    * complete-but-unpublished `__tmp` is discarded, never adopted —
    * "both or neither" means neither here. A no-op whenever `path`
    * exists (any `__old`/`__tmp` remnants there are a finished swap's,
    * cleaned by the next one). Swap call sites run this implicitly;
    * READERS of swap-published state that treat absence as empty should
    * run it before the existence probe. */
  def recoverSwap(spark: SparkSession, path: String): Unit = {
    val fs = new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val live = new Path(path)
    val old = new Path(path + "__old")
    val tmp = new Path(path + "__tmp")
    if (!fs.exists(live) && fs.exists(old)) {
      if (fs.exists(tmp)) fs.delete(tmp, true)
      renameOrFail(fs, old, live)
    }
  }

  /** Crash-consistent publish of staged partition directories into a live
    * partitioned snapshot — the commit protocol of the partition-scoped
    * MERGE (ref: the atomic warehouse MERGE at
    * config/bigquery/bigquery.py:259-262, which BigQuery commits
    * transactionally; plain parquet gets the same guarantee from per-dir
    * renames).
    *
    * For each `col=value` directory under `stagedPath`, in sorted order:
    * retire the live partition dir to a hidden `.graft-old-` name
    * (atomic rename), promote the staged dir into its place (atomic
    * rename), then drop the retired copy. A partition is therefore never
    * a PARTIAL mix of old and new files — the failure mode of dynamic
    * partition overwrite's delete-then-commit window. A crash between the
    * two renames leaves that one partition retired-but-not-promoted;
    * [[recoverPartitions]] restores it from the hidden dir on the next
    * run, and the staged data (never deleted on failure) plus the
    * un-advanced cursor make the batch replayable.
    *
    * Visibility caveat (disclosed): a reader whose directory listing
    * lands inside one partition's retire→promote rename pair sees that
    * partition ABSENT (complete-old-or-complete-new is the crash
    * guarantee, not a point-in-time isolation guarantee). Single-flip
    * point-in-time isolation across the whole snapshot is what
    * `snapshotSwap` (rename) and `snapshotSwapMarker` (pointer) provide;
    * this protocol trades that tiny window for partition-granular
    * rewrites under a single writer.
    *
    * `beforeEach` is a test seam: invoked with the partition dir name
    * before its swap starts (used by the crash-simulation specs).
    */
  def swapPartitions(spark: SparkSession, stagedPath: String, livePath: String,
                     beforeEach: String => Unit = _ => ()): Unit = {
    val fs = new Path(livePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    publish(fs, stagedPath, livePath, stagedPartitions(fs, stagedPath), beforeEach)
  }

  /** The `col=value` dir names under a staged path, sorted — the swap
    * order. Non-partition entries (`_SUCCESS`) are never published. */
  private def stagedPartitions(fs: org.apache.hadoop.fs.FileSystem,
                               stagedPath: String): Seq[String] =
    fs.listStatus(new Path(stagedPath))
      .filter(st => st.isDirectory && st.getPath.getName.contains("="))
      .map(_.getPath.getName).sorted.toSeq

  private def publish(fs: org.apache.hadoop.fs.FileSystem, stagedPath: String,
                      livePath: String, names: Seq[String],
                      beforeEach: String => Unit): Unit = {
    val live = new Path(livePath)
    fs.mkdirs(live)
    names.foreach { name =>
      beforeEach(name)
      val target = new Path(live, name)
      val old = new Path(live, OldPartPrefix + name)
      if (fs.exists(old)) fs.delete(old, true) // stale retiree from a crash-after-promote
      if (fs.exists(target)) renameOrFail(fs, target, old)
      renameOrFail(fs, new Path(stagedPath, name), target)
      fs.delete(old, true)
    }
    fs.delete(new Path(stagedPath), true)
  }

  /** The partition commit every partitioned writer publishes through
    * (the MERGE and its bootstrap, compaction, the label folds): `write`
    * fills the one staged path `<live>__stage-<uuid>` beside the live
    * snapshot (keeping the write's input set disjoint from the live path
    * it may read), `beforeSwap` sees the staged `col=value` names before
    * any of them is visible (the MERGE records its compaction manifest
    * there), and [[swapPartitions]]' per-dir protocol publishes them.
    * A crash anywhere leaves every partition complete-old or
    * complete-new; [[recoverPartitions]] repairs the rest on the next
    * run.
    * @return the published partition dir names */
  def commitPartitions(spark: SparkSession, livePath: String,
                       beforeSwap: Seq[String] => Unit = _ => ())(
                       write: String => Unit): Seq[String] = {
    val fs = new Path(livePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = s"$livePath$StageSuffix${java.util.UUID.randomUUID()}"
    write(staged)
    val names = stagedPartitions(fs, staged)
    beforeSwap(names)
    publish(fs, staged, livePath, names, _ => ())
    names
  }

  /** [[commitPartitions]] stages into `<live>__stage-<uuid>`. */
  private val StageSuffix = "__stage-"

  /** Start-of-run repair for [[commitPartitions]]: restore partitions a
    * crash left retired-but-not-promoted, then delete staged dirs a
    * crashed commit orphaned — they are never adopted, the un-advanced
    * caller replays instead. `named` scopes the repair to partitions the
    * caller already knows could have been mid-swap (two existence probes
    * each instead of a listing of the live root). Assumes one writer per
    * live path: the sweep reclaims EVERY staged dir beside it.
    * @return true iff anything was restored or swept (an unclean start) */
  def recoverPartitions(spark: SparkSession, livePath: String,
                        named: Option[Seq[String]] = None): Boolean = {
    val fs = new Path(livePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val restored = named match {
      case Some(names) => names.count(recoverPartitionSwap(spark, livePath, _)) > 0
      case None => recoverPartitionSwaps(spark, livePath).nonEmpty
    }
    val orphans = fs.globStatus(new Path(s"$livePath$StageSuffix*"))
    orphans.foreach(st => fs.delete(st.getPath, true))
    restored || orphans.nonEmpty
  }

  /** Repair pass for `swapPartitions` interrupted mid-swap: a hidden
    * `.graft-old-` dir with no live counterpart means the crash hit
    * between retire and promote — restore the old version (the new data
    * is still in the staged dir and the batch replays); with a live
    * counterpart the swap completed and the retiree is garbage.
    * @return the partition names restored from their hidden old version */
  def recoverPartitionSwaps(spark: SparkSession, livePath: String): Seq[String] = {
    val live = new Path(livePath)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(live)) Seq.empty
    else fs.listStatus(live)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(OldPartPrefix))
      .map(_.getPath.getName.stripPrefix(OldPartPrefix)).toSeq
      .filter(recoverPartitionSwap(spark, livePath, _))
  }

  /** [[recoverPartitionSwaps]] for one NAMED partition: two existence
    * probes instead of a listing of the whole live root.
    * @return true iff the partition was restored from its retired copy */
  private def recoverPartitionSwap(spark: SparkSession, livePath: String,
                                   name: String): Boolean = {
    val live = new Path(livePath)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new Path(live, OldPartPrefix + name)
    if (!fs.exists(old)) false
    else {
      val target = new Path(live, name)
      if (fs.exists(target)) { fs.delete(old, true); false }
      else { renameOrFail(fs, old, target); true }
    }
  }

  /** Dynamic partition overwrite — the incremental variant of the
    * reference's year-partitioned rewrite (ref: config/gcs/gcs.py:143-187
    * rewrites `{object}/{taxcode}/{year}` files per run): only the
    * partitions PRESENT in `df` are replaced; all other partitions are
    * untouched. At 100 TB this is the difference between rewriting one
    * day's partition and rewriting the table; combined with the upsert
    * it gives partition-granular idempotent reloads.
    */
  def overwritePartitions(df: DataFrame, path: String, partCols: Seq[String]): Unit =
    df.write
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCols: _*)
      .mode("overwrite")
      .parquet(path)

  /** Bucketed table write (SURVEY §4 / build brief: "bucketing for
    * co-located joins"). Two tables bucketed (and sorted) on the same
    * join key with the same bucket count join WITHOUT a shuffle — at
    * 100 TB, pre-bucketing the fact tables on their pk turns every
    * snapshot/MERGE/edge join into a local zip per bucket instead of a
    * full exchange of both sides. Bucketing metadata lives in the
    * catalog, hence `saveAsTable` rather than a path write.
    */
  def writeBucketed(df: DataFrame, table: String, keys: Seq[String],
                    buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.drop(1): _*)
      .sortBy(keys.head, keys.drop(1): _*)
      .format("parquet")
      .saveAsTable(table)

  /** K5 — sample dump (ref: mautic_hubspot_email_read_activities.py:198
    * `head(5).to_csv`). */
  def csvSample(df: DataFrame, path: String, n: Int = 5): Unit =
    df.limit(n).coalesce(1).write.mode("overwrite").option("header", "true").csv(path)

  /** K6 — reverse-ETL sink interface: the reference POSTs row-by-row to
    * HubSpot (ref: config/hubspot/hubspotoop.py:41-47,436-442, driven at
    * mautic_hubspot_email_read_activities.py:126-164). Distributed
    * equivalent: per-partition batched delivery via foreachPartition —
    * one client per partition, never a driver-side loop. */
  trait RowWriter extends Serializable {
    def open(): Unit = ()
    def write(row: Row): Unit
    def close(): Unit = ()
  }

  def foreachRowSink(df: DataFrame, writer: RowWriter): Unit =
    df.foreachPartition { it: Iterator[Row] =>
      writer.open()
      try it.foreach(writer.write)
      finally writer.close()
    }
}
