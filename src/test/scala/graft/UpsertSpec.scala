package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import graft.operators.Upsert

/** MERGE semantics of config/bigquery/bigquery.py:245-256 (see Upsert). */
class UpsertSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def target: DataFrame = Seq(
    ("a", ts("2024-01-01 00:00:00"), 1.0),
    ("b", ts("2024-01-02 00:00:00"), 2.0),
    ("c", ts("2024-01-03 00:00:00"), 3.0)
  ).toDF("id", "updated_at", "v")

  private def result(df: DataFrame): Map[String, (Timestamp, Double)] =
    df.collect().map(r => r.getString(0) -> (r.getTimestamp(1), r.getDouble(2))).toMap

  test("insert: unmatched source rows are added") {
    val src = Seq(("d", ts("2024-01-04 00:00:00"), 4.0)).toDF("id", "updated_at", "v")
    val out = result(Upsert(target, src, Seq("id"), "updated_at"))
    assert(out.size === 4)
    assert(out("d") === (ts("2024-01-04 00:00:00"), 4.0))
  }

  test("update: matched row with changed cursor takes the source version") {
    val src = Seq(("a", ts("2024-02-01 00:00:00"), 10.0)).toDF("id", "updated_at", "v")
    val out = result(Upsert(target, src, Seq("id"), "updated_at"))
    assert(out.size === 3)
    assert(out("a") === (ts("2024-02-01 00:00:00"), 10.0))
    assert(out("b") === (ts("2024-01-02 00:00:00"), 2.0))
  }

  test("no-op: matched row with equal cursor keeps the target version") {
    val src = Seq(("a", ts("2024-01-01 00:00:00"), 99.0)).toDF("id", "updated_at", "v")
    val out = result(Upsert(target, src, Seq("id"), "updated_at"))
    assert(out("a") === (ts("2024-01-01 00:00:00"), 1.0)) // WHEN MATCHED AND t.cursor != s.cursor only
  }

  test("dup source keys: latest-cursor-wins deterministically") {
    val src = Seq(
      ("a", ts("2024-03-01 00:00:00"), 30.0),
      ("a", ts("2024-02-01 00:00:00"), 20.0)
    ).toDF("id", "updated_at", "v")
    val out = result(Upsert(target, src, Seq("id"), "updated_at"))
    assert(out("a") === (ts("2024-03-01 00:00:00"), 30.0))
  }

  test("matched row with NULL target cursor does not update (SQL != is unknown)") {
    val t = Seq(("a", null.asInstanceOf[Timestamp], 1.0)).toDF("id", "updated_at", "v")
    val src = Seq(("a", ts("2024-02-01 00:00:00"), 10.0)).toDF("id", "updated_at", "v")
    val out = result(Upsert(t, src, Seq("id"), "updated_at"))
    assert(out("a")._2 === 1.0)
  }

  test("idempotence: re-applying the same source is a no-op") {
    val src = Seq(
      ("a", ts("2024-02-01 00:00:00"), 10.0),
      ("e", ts("2024-02-02 00:00:00"), 5.0)
    ).toDF("id", "updated_at", "v")
    val once = Upsert(target, src, Seq("id"), "updated_at")
    val twice = Upsert(once, src, Seq("id"), "updated_at")
    assert(result(once) === result(twice))
  }

  test("tombstone flow: archived flag update flows through as a change") {
    val t = Seq(("a", ts("2024-01-01 00:00:00"), false)).toDF("id", "updated_at", "archived")
    val src = Seq(("a", ts("2024-02-01 00:00:00"), true)).toDF("id", "updated_at", "archived")
    val out = Upsert(t, src, Seq("id"), "updated_at").collect()
    assert(out.length === 1 && out(0).getBoolean(2) === true)
  }

  // ---- partition-scoped incremental MERGE ------------------------------

  private def partFileHashes(root: String): Map[String, String] =
    TestFiles.partFileHashes(root)

  test("partitioned upsert rewrites only touched partitions, byte-identical elsewhere") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-partup").toString
    val snap = s"$tmp/snap"
    val partOf = org.apache.spark.sql.functions.year($"updated_at")

    // bootstrap: 3 rows across years 2022/2023/2024
    val seed = Seq(
      ("a", ts("2022-06-01 00:00:00"), 1.0),
      ("b", ts("2023-06-01 00:00:00"), 2.0),
      ("c", ts("2024-06-01 00:00:00"), 3.0)
    ).toDF("id", "updated_at", "v")
    Upsert.partitioned(snap, seed, Seq("id"), "updated_at", "y", partOf)
    val before = partFileHashes(snap)
    assert(Seq("y=2022", "y=2023", "y=2024").forall(p => before.keys.exists(_.startsWith(p))),
      s"bootstrap must write all three year partitions, got ${before.keys}")

    // incremental batch touches 2024 only: update c, insert d
    val batch = Seq(
      ("c", ts("2024-07-01 00:00:00"), 30.0),
      ("d", ts("2024-08-01 00:00:00"), 4.0)
    ).toDF("id", "updated_at", "v")
    val out = Upsert.partitioned(snap, batch, Seq("id"), "updated_at", "y", partOf)

    // merged content matches the full-table MERGE semantics
    val got = out.select("id", "updated_at", "v").collect()
      .map(r => r.getString(0) -> (r.getTimestamp(1), r.getDouble(2))).toMap
    assert(got === Map(
      "a" -> (ts("2022-06-01 00:00:00"), 1.0),
      "b" -> (ts("2023-06-01 00:00:00"), 2.0),
      "c" -> (ts("2024-07-01 00:00:00"), 30.0),
      "d" -> (ts("2024-08-01 00:00:00"), 4.0)))

    // untouched partitions' files are byte-identical; 2024 was rewritten
    val after = partFileHashes(snap)
    val untouchedBefore = before.filter { case (p, _) => !p.startsWith("y=2024") }
    val untouchedAfter = after.filter { case (p, _) => !p.startsWith("y=2024") }
    assert(untouchedBefore === untouchedAfter,
      "untouched year partitions must not be rewritten")
    assert(before.keys.filter(_.startsWith("y=2024")).toSet !=
      after.keys.filter(_.startsWith("y=2024")).toSet,
      "the touched partition must have new files")
  }

  test("interrupted partition publish: partitions are complete-old or complete-new, replay converges") {
    import org.apache.spark.sql.functions.{col, year}
    val tmp = java.nio.file.Files.createTempDirectory("graft-crash").toString
    val snap = s"$tmp/snap"
    val partOf = year($"updated_at")
    val seed = Seq(
      ("a", ts("2022-06-01 00:00:00"), 1.0),
      ("b", ts("2023-06-01 00:00:00"), 2.0)
    ).toDF("id", "updated_at", "v")
    Upsert.partitioned(snap, seed, Seq("id"), "updated_at", "y", partOf)
    val before = partFileHashes(snap)

    // a batch touching BOTH years, published through the same staged-write
    // + swap path as Upsert.partitioned, with the publish crashing right
    // before the second partition's swap
    val batch = Seq(
      ("a", ts("2022-07-01 00:00:00"), 10.0),
      ("b", ts("2023-07-01 00:00:00"), 20.0)
    ).toDF("id", "updated_at", "v")
    val merged = Upsert(spark.read.parquet(snap), batch.withColumn("y", partOf),
      Seq("id"), "updated_at")
    val staged = s"${snap}__stage-crashtest"
    merged.write.partitionBy("y").mode("error").parquet(staged)
    var seen = 0
    intercept[RuntimeException] {
      graft.sinks.Sinks.swapPartitions(spark, staged, snap,
        beforeEach = _ => { seen += 1; if (seen == 2) throw new RuntimeException("simulated crash") })
    }

    // partitions swap in sorted order: y=2022 promoted (complete new),
    // y=2023 untouched (byte-identical old) — never a partial mix
    val mid = partFileHashes(snap)
    assert(mid.filter(_._1.startsWith("y=2023")) === before.filter(_._1.startsWith("y=2023")),
      "the unswapped partition must be byte-identical to its old version")
    val mid2022 = mid.keys.filter(_.startsWith("y=2022")).toSet
    assert(mid2022.nonEmpty && mid2022.intersect(before.keys.filter(_.startsWith("y=2022")).toSet).isEmpty,
      "the swapped partition must be entirely the new files")
    // readers see complete partitions only (old b, new a)
    val midRows = spark.read.parquet(snap).select("id", "v").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(midRows === Map("a" -> 10.0, "b" -> 2.0))

    // replaying the whole batch (the un-advanced cursor's behavior)
    // converges: already-swapped partition is a no-op, the rest applies
    val out = Upsert.partitioned(snap, batch, Seq("id"), "updated_at", "y", partOf)
      .select("id", "v").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out === Map("a" -> 10.0, "b" -> 20.0))
  }

  test("crash between retire and promote: recovery restores the old partition") {
    import org.apache.spark.sql.functions.year
    val tmp = java.nio.file.Files.createTempDirectory("graft-crash2").toString
    val snap = s"$tmp/snap"
    val partOf = year($"updated_at")
    val seed = Seq(
      ("a", ts("2022-06-01 00:00:00"), 1.0),
      ("b", ts("2023-06-01 00:00:00"), 2.0)
    ).toDF("id", "updated_at", "v")
    Upsert.partitioned(snap, seed, Seq("id"), "updated_at", "y", partOf)
    val before = partFileHashes(snap)

    // simulate a crash in the one non-atomic window: live dir retired to
    // its hidden name, promote never ran
    val fs = new org.apache.hadoop.fs.Path(snap)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(s"$snap/y=2022"),
      new org.apache.hadoop.fs.Path(s"$snap/.graft-old-y=2022"))
    // the hidden dir is invisible to readers (no half state observable)
    assert(spark.read.parquet(snap).filter("y = 2022").count() === 0)

    val restored = graft.sinks.Sinks.recoverPartitionSwaps(spark, snap)
    assert(restored === Seq("y=2022"))
    assert(partFileHashes(snap) === before, "recovery must restore the old bytes exactly")

    // a stale retiree WITH a live counterpart (crash after promote) is garbage
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$snap/.graft-old-y=2022"))
    assert(graft.sinks.Sinks.recoverPartitionSwaps(spark, snap) === Seq.empty)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$snap/.graft-old-y=2022")))
  }

  test("bootstrap after a crashed bootstrap sweeps its orphaned stage dir") {
    import org.apache.spark.sql.functions.year
    val tmp = java.nio.file.Files.createTempDirectory("graft-bootcrash").toString
    val partOf = year($"updated_at")
    val seed = Seq(
      ("a", ts("2022-06-01 00:00:00"), 1.0),
      ("b", ts("2023-06-01 00:00:00"), 2.0),
      ("b", ts("2023-05-01 00:00:00"), 9.0)
    ).toDF("id", "updated_at", "v")
    val reference = s"$tmp/reference"
    Upsert.partitioned(reference, seed, Seq("id"), "updated_at", "y", partOf)

    // the crash artifact: a bootstrap's staged output, never published,
    // and no live snapshot
    val snap = s"$tmp/snap"
    val orphan = new java.io.File(s"${snap}__stage-crashed")
    seed.withColumn("y", partOf).write.partitionBy("y").mode("error").parquet(orphan.toString)
    assert(!new java.io.File(snap).exists())

    Upsert.partitioned(snap, seed, Seq("id"), "updated_at", "y", partOf)
    assert(!orphan.exists(), "the orphaned staged dir must be swept by the bootstrap")
    def rows(path: String) = spark.read.parquet(path).collect().map(_.toSeq).toSet
    def partDirs(path: String) = partFileHashes(path).keys.map(_.takeWhile(_ != '/')).toSet
    assert(rows(snap) === rows(reference))
    assert(partDirs(snap) === partDirs(reference))
    assert(rows(snap).size === 2, "the bootstrap dedups its source")
  }

  test("partitioned upsert is idempotent per batch") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-partup2").toString
    val snap = s"$tmp/snap"
    val partOf = org.apache.spark.sql.functions.year($"updated_at")
    val seed = Seq(("a", ts("2024-01-01 00:00:00"), 1.0)).toDF("id", "updated_at", "v")
    Upsert.partitioned(snap, seed, Seq("id"), "updated_at", "y", partOf)
    val batch = Seq(("a", ts("2024-02-01 00:00:00"), 10.0)).toDF("id", "updated_at", "v")
    val once = Upsert.partitioned(snap, batch, Seq("id"), "updated_at", "y", partOf)
      .collect().toSet
    val twice = Upsert.partitioned(snap, batch, Seq("id"), "updated_at", "y", partOf)
      .collect().toSet
    assert(once === twice)
  }
}
