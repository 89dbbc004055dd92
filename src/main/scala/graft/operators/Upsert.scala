package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Staging
import graft.sinks.Sinks

/** MERGE upsert — the reference's core sink (K3), re-expressed as a
  * distributed plan composition instead of a warehouse-side SQL MERGE.
  *
  * Semantics of the BigQuery MERGE at config/bigquery/bigquery.py:245-256:
  *
  *   MERGE target t USING source s ON t.pk = s.pk
  *   WHEN MATCHED AND t.cursor != s.cursor THEN UPDATE all columns
  *   WHEN NOT MATCHED THEN INSERT
  *
  * i.e. a matched row with an UNCHANGED cursor keeps the target version;
  * changed or new rows take the source version. BigQuery errors on
  * duplicate source pks (pre-checked at bigquery.py:227-229); we instead
  * dedup source latest-cursor-wins deterministically (SURVEY.md §7.4.1).
  *
  * Scale design: two shuffle joins keyed on pk, no driver-side collect,
  * no all-string coercion (the reference's `astype(str)` at
  * bigquery.py:165 is a bug we do not port). With AQE on, a small source
  * (the usual incremental case: few changed rows vs a huge snapshot)
  * converts both joins to broadcast joins automatically, so the 100 TB
  * target table is never shuffled — only scanned and rewritten.
  */
object Upsert {

  /** Pure-plan upsert: returns the post-MERGE snapshot DataFrame. */
  def apply(target: DataFrame, source: DataFrame,
            pk: Seq[String], cursor: String): DataFrame = {
    val keyCols = pk.map(col)
    val dedupedSrc = Dedup.latestWins(source, pk, cursor)
      .select(target.columns.toIndexedSeq.map(col): _*) // align column order with target
    // WHEN MATCHED AND t.cursor != s.cursor / WHEN NOT MATCHED:
    // keep only source rows that are new, or whose cursor changed. The
    // __matched marker distinguishes "not matched" (insert) from "matched
    // with NULL target cursor" (t.cursor != s.cursor is unknown -> no
    // update), exactly like the SQL MERGE.
    val targetCursors = target.select(
      (keyCols :+ col(cursor).as("__t_cursor") :+ lit(true).as("__matched")): _*)
    val applied = dedupedSrc
      .join(targetCursors, pk, "left")
      .filter(col("__matched").isNull || col("__t_cursor") =!= col(cursor))
      .drop("__t_cursor", "__matched")
    // Target rows not superseded + applied source rows = new snapshot.
    target.join(applied.select(keyCols: _*), pk, "left_anti")
      .unionByName(applied)
  }

  /** Partition-scoped incremental MERGE — the 100 TB shape of `apply`.
    *
    * `apply` computes the merged SNAPSHOT, so its writer rewrites the
    * whole table every run; the warehouse MERGE it models touches matched
    * rows only (ref: config/bigquery/bigquery.py:206-271). This variant
    * restores that asymmetry for a partitioned snapshot: derive each
    * source row's partition (`partOf`, e.g. `year(cursor)`), read ONLY
    * the touched partitions of the target (partition-pruned scan), run
    * the same MERGE over that slice, and republish only those
    * partitions. An incremental batch touching one day rewrites one
    * partition of a 100 TB table, and every untouched partition's files
    * are left byte-identical (asserted in UpsertSpec).
    *
    * Requirements:
    *  - `partOf` must be STABLE per pk (derived from the pk or an
    *    immutable attribute, or a cursor whose partition projection never
    *    changes for a given row): a row "moving" partitions would leave
    *    its superseded version alive in the old partition, because that
    *    partition is never read. This is the standard contract of
    *    partition-granular MERGE on non-transactional storage.
    *  - `partOf` must be non-null (a null partition value lands in the
    *    Hive default partition and escapes the touched-partition pruning).
    *    ENFORCED: a null partition value fails the run via a distributed
    *    `raise_error` — silent pk duplication is converted into an error.
    *
    * The touched-partition list is a driver-side read of partition VALUES
    * (bounded by the number of touched partitions — partition metadata,
    * same category as a cursor read, never row data). The SOURCE is staged
    * once (graft.core.Staging) so the touched-partition read and the merge
    * don't each re-execute the upstream extract.
    *
    * Crash consistency: the merged slice — on bootstrap (no snapshot
    * yet), the deduped source itself — is published through
    * `Sinks.commitPartitions`, per-dir atomic renames, so every touched
    * partition is always either its complete old or complete new
    * version, never a partial mix. A crash mid-commit is repaired by
    * `Sinks.recoverPartitions` on the next call, and the un-advanced
    * cursor replays the batch; the MERGE's idempotence makes the replay
    * a no-op on partitions that already swapped. (The reference gets the
    * same guarantee from BigQuery's transactional MERGE,
    * config/bigquery/bigquery.py:259-262.)
    *
    * @return the post-merge snapshot re-read from `snapshotPath`
    */
  def partitioned(snapshotPath: String, source: DataFrame, pk: Seq[String],
                  cursor: String, partCol: String, partOf: Column): DataFrame = {
    val spark = source.sparkSession
    val checkedPart = when(partOf.isNull,
      raise_error(lit(s"NULL partition value ('$partCol') in partitioned upsert source")))
      .otherwise(partOf)
    // staged once: the touched-partition scan and the merge both read the
    // materialized source instead of re-running the upstream extract
    val src = Staging.stage(source.withColumn(partCol, checkedPart))
    val fs = new Path(snapshotPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the partitioned MERGE manages the partition-dir layout; a snapshot
    // published under the marker protocol (data in __versions + pointer)
    // would be invisible to the plain-path reads here, and the bootstrap
    // branch would silently fork it — fail loudly instead
    if (fs.exists(new Path(s"${snapshotPath}__current")))
      throw new IllegalStateException(s"'$snapshotPath' uses the marker snapshot " +
        "layout (snapshotSwapMarker); the partitioned MERGE requires the partition-dir layout")
    Sinks.recoverPartitions(spark, snapshotPath)
    val bootstrap = !fs.exists(new Path(snapshotPath))
    // write-side manifest for the compaction census: the staged dir names
    // ARE the touched partitions, already in Spark's escaped dir-name
    // form. Recorded BEFORE the swap — if the swap crashes, the batch
    // replays and the manifest over-approximates harmlessly; recording
    // after would lose the hint forever.
    Sinks.commitPartitions(spark, snapshotPath,
        Compact.writeManifest(spark, snapshotPath, _)) { staged =>
      val merged =
        if (bootstrap) Dedup.latestWins(src, pk, cursor) // the source IS the snapshot
        else {
          val touched = src.select(partCol).distinct().collect()
            .map(_.get(0)).toIndexedSeq
          apply(spark.read.parquet(snapshotPath).filter(col(partCol).isin(touched: _*)),
            src, pk, cursor)
        }
      merged.write.partitionBy(partCol).mode("error").parquet(staged)
    }
    spark.read.parquet(snapshotPath)
  }
}
