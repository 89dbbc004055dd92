package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.Compact

/** RawLocalFileSystem under a private scheme that records every
  * `listStatus` target — the instrumented FileSystem the manifest-census
  * spec uses to prove "zero root listings". (Hadoop instantiates it by
  * reflection from the `fs.cfs.impl` key, hence top-level + no-arg.) */
class CountingLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "cfs"
  override def getUri: java.net.URI = java.net.URI.create("cfs:///")
  override def listStatus(f: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] = {
    CountingLocalFs.listed.add(f.toUri.getPath)
    super.listStatus(f)
  }
}
object CountingLocalFs {
  val listed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

/** RawLocalFileSystem that fires a one-shot callback right after the
  * manifest dir is listed — the deterministic stand-in for a MERGE
  * committing its manifest WHILE the census runs (after the census's
  * one listing, before it consumes what it read). */
class InjectingLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "ifs"
  override def getUri: java.net.URI = java.net.URI.create("ifs:///")
  override def listStatus(f: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] = {
    val r = super.listStatus(f)
    if (f.toUri.getPath.endsWith("_graft_manifest")) {
      val cb = InjectingLocalFs.onManifestList.getAndSet(null)
      if (cb != null) cb.run()
    }
    r
  }
}
object InjectingLocalFs {
  val onManifestList = new java.util.concurrent.atomic.AtomicReference[Runnable](null)
}

class CompactSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("compaction rewrites only fragmented partitions, preserves data, idempotent") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact").toString
    val snap = s"$tmp/snap"

    // y=2024 fragments across 6 single-row appends (one file each);
    // y=2023 stays compact (one append)
    (1 to 6).foreach { i =>
      Seq((s"k$i", ts(s"2024-0$i-01 00:00:00"), i.toDouble))
        .toDF("id", "updated_at", "v")
        .withColumn("y", year($"updated_at"))
        .write.partitionBy("y").mode("append").parquet(snap)
    }
    Seq(("old", ts("2023-06-01 00:00:00"), 0.0))
      .toDF("id", "updated_at", "v")
      .withColumn("y", year($"updated_at"))
      .write.partitionBy("y").mode("append").parquet(snap)

    val before = TestFiles.partFileHashes(snap)
    assert(before.keys.count(_.startsWith("y=2024")) === 6)
    val dataBefore = spark.read.parquet(snap).collect()
      .map(r => (r.getString(0), r.getDouble(2))).toSet

    val rewritten = Compact.partitions(spark, snap, maxFilesPerPartition = 4)
    assert(rewritten === Seq("y=2024"), "only the fragmented partition compacts")

    val after = TestFiles.partFileHashes(snap)
    assert(after.keys.count(_.startsWith("y=2024")) === 1,
      "six small files must become one")
    assert(after.filter(_._1.startsWith("y=2023")) === before.filter(_._1.startsWith("y=2023")),
      "the compact partition must be byte-identical")
    val dataAfter = spark.read.parquet(snap).collect()
      .map(r => (r.getString(0), r.getDouble(2))).toSet
    assert(dataAfter === dataBefore, "compaction must not change a single row")

    assert(Compact.partitions(spark, snap, maxFilesPerPartition = 4) === Seq.empty,
      "re-running on a compact snapshot selects nothing")
  }

  // regression: partition values that don't round-trip through Spark's
  // partition type inference. The pre-fix implementation read the whole
  // snapshot, filtered on the DECODED value, and re-wrote via partitionBy —
  // inference re-canonicalized y=01 to int 1, so the rewrite published a
  // NEW y=1 dir while y=01 stayed live, duplicating every row on read.
  test("compaction preserves zero-padded partition dir names (y=01 stays y=01)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact-zp").toString
    val snap = s"$tmp/snap"
    (1 to 6).foreach { i =>
      Seq((s"k$i", "01", i.toDouble)).toDF("id", "y", "v")
        .write.partitionBy("y").mode("append").parquet(snap)
    }

    val rewritten = Compact.partitions(spark, snap, maxFilesPerPartition = 4)
    assert(rewritten === Seq("y=01"))

    val dirs = new java.io.File(snap).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.toSeq === Seq("y=01"),
      s"the dir name must survive verbatim — no re-canonicalized y=1 twin: ${dirs.toSeq}")
    val rows = spark.read.parquet(snap).select("id").as[String].collect().sorted
    assert(rows === (1 to 6).map(i => s"k$i"),
      "exactly the original six rows — a live y=1 twin would duplicate them")
    assert(TestFiles.partFileHashes(snap).keys.count(_.startsWith("y=01")) === 1,
      "six small files must become one")
  }

  // regression: URL-escaped partition values. The pre-fix filter on the
  // decoded value matched nothing for a %XX-escaped dir — compaction
  // reported the partition rewritten while silently writing zero rows.
  test("compaction rewrites URL-escaped partition dirs (y=2024%3A01)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact-esc").toString
    val snap = s"$tmp/snap"
    (1 to 6).foreach { i =>
      Seq((s"k$i", "2024:01", i.toDouble)).toDF("id", "y", "v")
        .write.partitionBy("y").mode("append").parquet(snap)
    }
    val escDir = new java.io.File(snap).listFiles().filter(_.isDirectory).map(_.getName)
      .find(_.contains("%")).getOrElse(fail("expected an escaped partition dir"))

    val rewritten = Compact.partitions(spark, snap, maxFilesPerPartition = 4)
    assert(rewritten === Seq(escDir))

    assert(TestFiles.partFileHashes(snap).keys.count(_.startsWith(escDir)) === 1,
      "the escaped partition must actually be rewritten: six files → one")
    val rows = spark.read.parquet(snap).select("id").as[String].collect().sorted
    assert(rows === (1 to 6).map(i => s"k$i"), "all rows preserved through the rewrite")
  }

  // scale: a heavily fragmented snapshot must compact in ⌈N/batch⌉ write
  // jobs, not N — per-partition jobs made driver scheduling the
  // bottleneck at 10⁵ touched partitions
  test("compaction batches partition rewrites into ceil(N/batch) write jobs") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact-batch").toString
    val snap = s"$tmp/snap"
    // 6 partitions, 6 files each: every append writes one file into each
    val parts = (1 to 6).map(p => f"p$p%02d")
    (1 to 6).foreach { i =>
      parts.map(p => (s"k$i-$p", p, i.toDouble)).toDF("id", "y", "v")
        .write.partitionBy("y").mode("append").parquet(snap)
    }

    val writes = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      // suites share one SparkSession and sbt runs them in parallel, so
      // count only THIS test's COMPACTION writes: the batch rewrite is
      // the only writer into a __stage-* staging dir under tmp. A
      // tmp-only filter also matched this test's own setup appends —
      // listener events are delivered async, so under full-suite load
      // the last setup append's event could land after registration and
      // overshoot the count by one.
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit = qe.logical match {
        case c: org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
            if c.outputPath.toString.contains(tmp) &&
              c.outputPath.toString.contains("__stage-") =>
          writes.incrementAndGet()
        case _ => ()
      }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val rewritten =
        Compact.partitions(spark, snap, maxFilesPerPartition = 4, batchSize = 4)
      assert(rewritten.sorted === parts.map(p => s"y=$p"))

      // listener events are delivered async; wait for the expected count,
      // then a grace beat to catch overshoot (un-batched = 6 writes)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (writes.get() < 2 && System.nanoTime() < deadline) Thread.sleep(50)
      Thread.sleep(500)
      assert(writes.get() === 2, "6 partitions at batchSize=4 must take exactly 2 write jobs")

      parts.foreach { p =>
        assert(TestFiles.partFileHashes(snap).keys.count(_.startsWith(s"y=$p")) === 1,
          s"partition y=$p must compact to one file")
      }
      val rows = spark.read.parquet(snap).count()
      assert(rows === 36, "every row survives the batched rewrite")
    } finally spark.listenerManager.unregister(listener)
  }

  // the census prefers the Spark schema JSON embedded in footer
  // key-value metadata over the raw parquet MessageType conversion —
  // the MessageType round-trip would silently strip column metadata
  // (and UDT/char/varchar info) from the rewritten files
  test("column metadata embedded in footers survives the rewrite") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact-meta").toString
    val snap = s"$tmp/snap"
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putString("comment", "unit price").build()
    (1 to 6).foreach { i =>
      Seq((s"k$i", "a", i.toDouble)).toDF("id", "y", "v")
        .withMetadata("v", meta)
        .write.partitionBy("y").mode("append").parquet(snap)
    }
    assert(Compact.partitions(spark, snap, maxFilesPerPartition = 4) === Seq("y=a"))
    val field = spark.read.parquet(snap).schema("v")
    assert(field.metadata.contains("comment") &&
      field.metadata.getString("comment") === "unit price",
      s"column metadata must survive the rewrite, got: ${field.metadata}")
    assert(spark.read.parquet(snap).count() === 6)
  }

  // batch grouping normalizes nullability/metadata: a dir whose census
  // came through the single-footer fast path and one that paid the
  // mergeSchema fallback (footers differing only in field metadata)
  // describe logically identical data and must share ONE write job
  test("fast-path and mergeSchema-censused dirs of identical layout share a batch") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact-norm").toString
    val snap = s"$tmp/snap"
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putString("comment", "metered").build()
    // y=a: uniform footers -> fast path
    (1 to 6).foreach { i =>
      Seq((s"a$i", "a", i.toDouble)).toDF("id", "y", "v")
        .write.partitionBy("y").mode("append").parquet(snap)
    }
    // y=b: same columns/types, but footers disagree in metadata only
    // (one write carries a column comment) -> mergeSchema fallback
    (1 to 3).foreach { i =>
      Seq((s"b$i", "b", i.toDouble)).toDF("id", "y", "v")
        .write.partitionBy("y").mode("append").parquet(snap)
    }
    (4 to 6).foreach { i =>
      Seq((s"b$i", "b", i.toDouble)).toDF("id", "y", "v")
        .withMetadata("v", meta)
        .write.partitionBy("y").mode("append").parquet(snap)
    }

    val writes = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit = qe.logical match {
        case c: org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
            if c.outputPath.toString.contains(tmp) &&
              c.outputPath.toString.contains("__stage-") =>
          writes.incrementAndGet()
        case _ => ()
      }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val rewritten = Compact.partitions(spark, snap, maxFilesPerPartition = 4)
      assert(rewritten.toSet === Set("y=a", "y=b"))
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (writes.get() < 1 && System.nanoTime() < deadline) Thread.sleep(50)
      Thread.sleep(500)
      assert(writes.get() === 1,
        "logically identical dirs must not split into separate batches")
      assert(spark.read.parquet(snap).count() === 12)
    } finally spark.listenerManager.unregister(listener)
  }

  // a batch unions partition dirs, so dirs written across a schema
  // evolution must not be merged into one frame: each partition keeps
  // exactly its own layout
  test("batched compaction keeps per-partition schemas across schema drift") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact-drift").toString
    val snap = s"$tmp/snap"
    (1 to 6).foreach { i =>
      Seq((s"a$i", "old", i.toDouble)).toDF("id", "y", "v")
        .write.partitionBy("y").mode("append").parquet(snap)
      Seq((s"b$i", "new", i.toDouble, s"x$i")).toDF("id", "y", "v", "extra")
        .write.partitionBy("y").mode("append").parquet(snap)
    }

    val rewritten = Compact.partitions(spark, snap, maxFilesPerPartition = 4)
    assert(rewritten.toSet === Set("y=old", "y=new"))

    val oldCols = spark.read.parquet(s"$snap/y=old").columns.toSet
    val newCols = spark.read.parquet(s"$snap/y=new").columns.toSet
    assert(oldCols === Set("id", "v"),
      "the pre-evolution partition must not grow a null 'extra' column")
    assert(newCols === Set("id", "v", "extra"))
    assert(spark.read.parquet(s"$snap/y=new").count() === 6)
    assert(spark.read.parquet(s"$snap/y=old").count() === 6)
  }

  // a single partition whose OWN files straddle a schema evolution must
  // rewrite with the merged schema — a one-footer inferred schema would
  // silently drop the newer files' columns while the swap deletes the
  // only copy holding them
  test("compaction merges schemas of files straddling an evolution within one dir") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact-intra").toString
    val snap = s"$tmp/snap"
    (1 to 3).foreach { i =>
      Seq((s"old$i", i.toDouble)).toDF("id", "v")
        .write.mode("append").parquet(s"$snap/y=mix")
    }
    (1 to 3).foreach { i =>
      Seq((s"new$i", i.toDouble, s"x$i")).toDF("id", "v", "extra")
        .write.mode("append").parquet(s"$snap/y=mix")
    }

    assert(Compact.partitions(spark, snap, maxFilesPerPartition = 4) === Seq("y=mix"))

    val out = spark.read.parquet(s"$snap/y=mix")
    assert(out.columns.toSet === Set("id", "v", "extra"),
      "the rewrite must carry the evolved column")
    assert(out.count() === 6)
    assert(out.filter(col("extra").isNotNull).count() === 3,
      "every post-evolution value survives the rewrite")
    assert(TestFiles.partFileHashes(snap).keys.count(_.startsWith("y=mix")) === 1)
  }

  // a fragmented partition whose files hold zero rows (metadata-only
  // parquet from empty-frame saves) stages no output dir; the swap must
  // still collapse its junk files without aborting the healthy batch
  test("an all-empty fragmented partition compacts to empty without aborting the batch") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact-empty").toString
    val snap = s"$tmp/snap"
    (1 to 6).foreach { i =>
      Seq((s"k$i", i.toDouble)).toDF("id", "v")
        .write.mode("append").parquet(s"$snap/y=aa")
      Seq.empty[(String, Double)].toDF("id", "v")
        .write.mode("append").parquet(s"$snap/y=ghost")
    }
    val ghostFiles = new java.io.File(s"$snap/y=ghost").listFiles()
      .count(_.getName.startsWith("part-"))
    assume(ghostFiles > 4, s"empty saves must fragment the fixture (got $ghostFiles files)")

    val rewritten = Compact.partitions(spark, snap, maxFilesPerPartition = 4, batchSize = 4)
    assert(rewritten.toSet === Set("y=aa", "y=ghost"))

    assert(new java.io.File(s"$snap/y=ghost").listFiles()
      .count(_.getName.startsWith("part-")) === 0,
      "the zero-row partition's junk files must be gone")
    assert(TestFiles.partFileHashes(snap).keys.count(_.startsWith("y=aa")) === 1)
    assert(spark.read.parquet(snap).count() === 6, "healthy rows all survive")
  }

  // the manifest census: compaction driven by write-side manifests must
  // examine ONLY manifest-listed dirs — in particular it must never list
  // the snapshot root, the O(#partitions) driver walk that makes the
  // listing census the wrong tool past ~10⁵ partitions
  test("manifest-driven compaction lists no root and touches only manifest dirs") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact-manif").toString
    spark.sparkContext.hadoopConfiguration
      .set("fs.cfs.impl", classOf[CountingLocalFs].getName)
    val snap = s"cfs:$tmp/snap"
    // three fragmented partitions; the manifest names only two
    (1 to 6).foreach { i =>
      Seq((s"a$i", "a", i.toDouble), (s"b$i", "b", i.toDouble), (s"c$i", "c", i.toDouble))
        .toDF("id", "y", "v").write.partitionBy("y").mode("append").parquet(snap)
    }
    graft.operators.Compact.writeManifest(spark, snap, Seq("y=a", "y=b"))

    CountingLocalFs.listed.clear()
    val rewritten = Compact.partitionsFromManifests(spark, snap, maxFilesPerPartition = 4)
    assert(rewritten.toSet === Set("y=a", "y=b"))

    val inRoot = {
      import scala.jdk.CollectionConverters._
      CountingLocalFs.listed.asScala.toSeq
        .filter(p => p == s"$tmp/snap" || p.startsWith(s"$tmp/snap/"))
    }
    assert(!inRoot.contains(s"$tmp/snap"),
      s"the manifest census must perform zero root listStatus calls, got: $inRoot")
    val allowed = Seq(s"$tmp/snap/y=a", s"$tmp/snap/y=b", s"$tmp/snap/_graft_manifest")
    inRoot.foreach { p =>
      assert(allowed.exists(a => p == a || p.startsWith(s"$a/")),
        s"listing outside the manifest-listed dirs: $p")
    }

    val hashes = TestFiles.partFileHashes(s"$tmp/snap")
    assert(hashes.keys.count(_.startsWith("y=a/")) === 1, "y=a compacts to one file")
    assert(hashes.keys.count(_.startsWith("y=b/")) === 1, "y=b compacts to one file")
    assert(hashes.keys.count(_.startsWith("y=c/")) === 6,
      "the un-manifested partition must be untouched")
    assert(spark.read.parquet(snap).count() === 18, "every row survives")

    assert(Compact.partitionsFromManifests(spark, snap, maxFilesPerPartition = 4)
      === Seq.empty, "manifests are consumed — a second run has nothing to read")
  }

  // concurrent-writer discipline: the census consumes exactly the
  // manifest files it LISTED; a manifest committed while it runs (a
  // concurrent MERGE) must survive untouched and drive the NEXT run
  test("a manifest written mid-census survives and is processed next run") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact-race").toString
    spark.sparkContext.hadoopConfiguration
      .set("fs.ifs.impl", classOf[InjectingLocalFs].getName)
    val snap = s"ifs:$tmp/snap"
    (1 to 6).foreach { i =>
      Seq((s"a$i", "a", i.toDouble), (s"b$i", "b", i.toDouble))
        .toDF("id", "y", "v").write.partitionBy("y").mode("append").parquet(snap)
    }
    Compact.writeManifest(spark, snap, Seq("y=a"))

    // armed: the "concurrent MERGE" commits its y=b manifest the moment
    // the census finishes its one listing of the manifest dir
    InjectingLocalFs.onManifestList.set(new Runnable {
      override def run(): Unit = Compact.writeManifest(spark, snap, Seq("y=b"))
    })
    val firstRun = Compact.partitionsFromManifests(spark, snap, maxFilesPerPartition = 4)
    assert(firstRun === Seq("y=a"), "the census must only see the pre-listed manifest")
    assert(InjectingLocalFs.onManifestList.get() == null, "the injection must have fired")

    val survivors = new java.io.File(s"$tmp/snap/_graft_manifest").listFiles()
      .count(_.getName.startsWith("manifest-"))
    assert(survivors === 1,
      "the mid-census manifest must survive the census's by-name consumption")

    val secondRun = Compact.partitionsFromManifests(spark, snap, maxFilesPerPartition = 4)
    assert(secondRun === Seq("y=b"), "the surviving manifest drives the next run")
    val hashes = TestFiles.partFileHashes(s"$tmp/snap")
    assert(hashes.keys.count(_.startsWith("y=a/")) === 1)
    assert(hashes.keys.count(_.startsWith("y=b/")) === 1)
    assert(spark.read.parquet(snap).count() === 12, "every row survives both runs")
  }

  // the manifest names a partition, not a snapshot of its contents: a
  // MERGE that re-touches a manifest-listed partition between census
  // runs is compacted at its CURRENT state — the over-approximation the
  // write-before-publish ordering promises (single WRITER per partition
  // is assumed; readers and the census compose through the atomic swap)
  test("census compacts the current state of a partition re-touched since its manifest") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact-retouch").toString
    val snap = s"$tmp/snap"
    (1 to 5).foreach { i =>
      Seq((s"a$i", "a", i.toDouble))
        .toDF("id", "y", "v").write.partitionBy("y").mode("append").parquet(snap)
    }
    Compact.writeManifest(spark, snap, Seq("y=a"))
    // a later MERGE appends to the same partition; its own manifest write
    // crashed (worst case) — the earlier manifest must still cover it
    Seq(("a6", "a", 6.0)).toDF("id", "y", "v")
      .write.partitionBy("y").mode("append").parquet(snap)

    val rewritten = Compact.partitionsFromManifests(spark, snap, maxFilesPerPartition = 4)
    assert(rewritten === Seq("y=a"))
    assert(TestFiles.partFileHashes(snap).keys.count(_.startsWith("y=a/")) === 1,
      "all six files — including the post-manifest append — compact together")
    assert(spark.read.parquet(snap).collect().map(_.getString(0)).toSet
      === (1 to 6).map(i => s"a$i").toSet)
  }

  // end-to-end: the partitioned MERGE records manifests; manifest-driven
  // compaction consumes exactly them and a later merge starts a new set
  test("MERGE-written manifests drive compaction and are consumed on success") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact-e2e").toString
    val snap = s"$tmp/snap"
    def src(rows: (String, String, Double)*) =
      rows.toDF("id", "updated_at", "v")
        .withColumn("updated_at", to_timestamp($"updated_at"))
    def merge(rows: (String, String, Double)*) =
      graft.operators.Upsert.partitioned(snap, src(rows: _*),
        pk = Seq("id"), cursor = "updated_at",
        partCol = "y", partOf = year(to_timestamp(col("updated_at"))))

    merge(("k1", "2023-06-01 00:00:00", 1.0), ("k2", "2024-01-01 00:00:00", 2.0))
    merge(("k2", "2024-02-01 00:00:00", 3.0)) // incremental: touches y=2024 only
    val manifestDir = new java.io.File(s"$snap/_graft_manifest")
    assert(manifestDir.listFiles().count(_.getName.startsWith("manifest-")) === 2,
      "bootstrap and the incremental merge each record a manifest")

    // fragment the partition the manifests name (append loads bypass the
    // swap, so they fragment; their partitions reached the manifest via
    // the merges above)
    (1 to 6).foreach { i =>
      Seq((s"f$i", 2024, i.toDouble)).toDF("id", "y", "v")
        .write.partitionBy("y").mode("append").parquet(snap)
    }

    val rewritten = Compact.partitionsFromManifests(spark, snap, maxFilesPerPartition = 4)
    assert(rewritten === Seq("y=2024"),
      "only the fragmented manifest-listed partition compacts")
    assert(TestFiles.partFileHashes(snap).keys.count(_.startsWith("y=2024/")) === 1)
    assert(manifestDir.listFiles().count(_.getName.startsWith("manifest-")) === 0,
      "successful compaction consumes the manifests")
    assert(spark.read.parquet(snap).filter(col("id").startsWith("f")).count() === 6)

    merge(("k3", "2024-03-01 00:00:00", 4.0))
    assert(manifestDir.listFiles().count(_.getName.startsWith("manifest-")) === 1,
      "the next merge starts a fresh manifest set")
  }

  // regression: a crash between staging and swap orphans the __stage-*
  // copy; re-running must sweep it instead of leaking a full partition
  // copy per crash
  test("re-run after a crash mid-compaction sweeps __stage-* orphans") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact-crash").toString
    val snap = s"$tmp/snap"
    Seq(("k1", "01", 1.0)).toDF("id", "y", "v")
      .write.partitionBy("y").mode("append").parquet(snap)

    // simulate the crash artifact: a staged copy that was never swapped
    val orphan = new java.io.File(s"${snap}__stage-deadbeef/y=01")
    assert(orphan.mkdirs())
    java.nio.file.Files.write(orphan.toPath.resolve("part-00000-orphan.parquet"),
      Array[Byte](1, 2, 3))

    assert(Compact.partitions(spark, snap, maxFilesPerPartition = 4) === Seq.empty)
    assert(!new java.io.File(s"${snap}__stage-deadbeef").exists(),
      "the orphaned staged copy must be swept on entry")
    assert(spark.read.parquet(snap).count() === 1, "live data untouched")
  }
}
