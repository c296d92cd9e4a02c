package graft

import java.nio.file.{Files, Paths}
import java.util.Comparator

import graft.pregel.{CheckpointConfig, IterMetrics, Iterate}
import graft.sources.SnapshotTable
import org.apache.spark.sql.functions._

/** Snapshot-versioned durable sink: commit atomicity, time travel,
  * lineage validation, maintenance ops, and the superstep-checkpoint
  * integration. */
class SnapshotTableSpec extends SparkSpec {

  import spark.implicits._

  private def tmpTable(prefix: String): String =
    Files.createTempDirectory(prefix).resolve("t").toString

  private def docs(ids: Range) =
    ids.map(i => (i.toLong, s"text-$i")).toDF("id", "text")

  /** Replace a data file's bytes in place, removing the Hadoop local-FS
    * CRC sidecar so the swap is invisible to transport-level checksums —
    * only the manifest lineage can catch it (the property under test). */
  private def tamper(victim: java.nio.file.Path,
      replacement: java.nio.file.Path): Unit = {
    Files.copy(replacement, victim,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val crc = victim.getParent.resolve(s".${victim.getFileName}.crc")
    Files.deleteIfExists(crc)
    val rcrc = replacement.getParent
      .resolve(s".${replacement.getFileName}.crc")
    if (Files.exists(rcrc))
      Files.copy(rcrc, crc,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private def rmrf(dir: String): Unit = {
    val base = Paths.get(dir).getParent
    if (Files.exists(base))
      Files.walk(base).sorted(Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
  }

  test("create + append + overwrite with time travel") {
    val t = tmpTable("snap-basic")
    try {
      val v1 = SnapshotTable.create(docs(0 until 10), t)
      val v2 = SnapshotTable.append(docs(10 until 25), t)
      val v3 = SnapshotTable.overwrite(docs(100 until 103), t)
      assert((v1, v2, v3) == ((1, 2, 3)))

      assert(SnapshotTable.read(spark, t).count() == 3)
      assert(SnapshotTable.readVersion(spark, t, 2).count() == 25)
      assert(SnapshotTable.readVersion(spark, t, 1).count() == 10)
      // content, not just counts
      assert(SnapshotTable.readVersion(spark, t, 2)
        .agg(sum("id")).head().getLong(0) == (0 until 25).sum)

      val hist = SnapshotTable.snapshots(spark, t)
      assert(hist.map(_.version) == Seq(1, 2, 3))
      assert(hist.map(_.operation) == Seq("create", "append", "overwrite"))
      assert(hist.map(_.parentVersion) == Seq(-1, 1, 2))
      assert(hist(1).rows == 25, "append manifest carries cumulative rows")

      // every snapshot validates against its recorded lineage
      (1 to 3).foreach(v => SnapshotTable.validate(spark, t, v))
    } finally rmrf(t)
  }

  test("vacuum removes a file no manifest lists from a live data dir; " +
      "read and validate are unchanged") {
    val t = tmpTable("snap-orphan-file")
    try {
      SnapshotTable.create(docs(0 until 8).repartition(2), t)
      val v = SnapshotTable.append(docs(8 until 12), t)
      val live = Paths.get(t, SnapshotTable.manifest(spark, t, v).files.head
        .path).getParent
      // a failed task attempt's file, written through the local file
      // system (with its .crc sibling) into a dir the manifest lists
      val stray = docs(100 until 140).coalesce(1)
      val tmp = Files.createTempDirectory("snap-stray").resolve("d")
      stray.write.parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      val planted = live.resolve("part-00000-999.snappy.parquet")
      val crc = live.resolve(s".${planted.getFileName}.crc")
      Files.copy(part, planted)
      Files.copy(part.resolveSibling(s".${part.getFileName}.crc"), crc)
      rmrf(tmp.toString)
      val before = SnapshotTable.read(spark, t).collect().toSet
      assert(SnapshotTable.vacuum(spark, t) == 1)
      assert(!Files.exists(planted) && !Files.exists(crc))
      assert(SnapshotTable.read(spark, t).collect().toSet == before &&
        before.size == 12)
      (1 to v).foreach(SnapshotTable.validate(spark, t, _))
      assert(SnapshotTable.vacuum(spark, t) == 0)
    } finally rmrf(t)
  }

  test("uncommitted data files are invisible to every reader") {
    val t = tmpTable("snap-orphan")
    try {
      SnapshotTable.create(docs(0 until 8), t)
      // a failed/abandoned write: data landed, no manifest references it
      docs(1000 until 1100).write.parquet(s"$t/data/orphan-dir")
      assert(SnapshotTable.read(spark, t).count() == 8,
        "reader must plan the manifest file list, not the directory")
      // vacuum collects exactly the orphan
      assert(SnapshotTable.vacuum(spark, t) == 1)
      assert(!Files.exists(Paths.get(t, "data", "orphan-dir")))
      assert(SnapshotTable.read(spark, t).count() == 8)
      assert(SnapshotTable.vacuum(spark, t) == 0)
    } finally rmrf(t)
  }

  test("append refuses a schema mismatch; create refuses an existing table") {
    val t = tmpTable("snap-schema")
    try {
      SnapshotTable.create(docs(0 until 5), t)
      val bad = Seq((1L, 2L)).toDF("id", "n")
      val e = intercept[IllegalArgumentException] {
        SnapshotTable.append(bad, t)
      }
      assert(e.getMessage.contains("schema mismatch"))
      val e2 = intercept[IllegalArgumentException] {
        SnapshotTable.create(docs(0 until 5), t)
      }
      assert(e2.getMessage.contains("already exists"))
    } finally rmrf(t)
  }

  test("a racing commit loses the version and retries onto the next one") {
    val t = tmpTable("snap-race")
    try {
      SnapshotTable.create(docs(0 until 5), t)
      // Simulate a concurrent writer that already published v2: the next
      // append must detect the occupied slot and land at v3 with v2 as
      // its parent (re-read, not overwrite).
      val stolen = SnapshotTable.overwrite(docs(50 until 60), t)
      assert(stolen == 2)
      val v = SnapshotTable.append(docs(5 until 10), t)
      assert(v == 3)
      val m = SnapshotTable.manifest(spark, t, 3)
      assert(m.parentVersion == 2)
      assert(SnapshotTable.read(spark, t).count() == 15,
        "append chained onto the interleaved overwrite, not the stale parent")
    } finally rmrf(t)
  }

  test("put-if-absent: a manually occupied version slot is never clobbered") {
    val t = tmpTable("snap-slot")
    try {
      SnapshotTable.create(docs(0 until 3), t)
      val marker = Paths.get(t, "metadata", "v00002.json")
      // occupy v2 with a valid manifest copied from v1
      Files.copy(Paths.get(t, "metadata", "v00001.json"), marker)
      val bytes = Files.readAllBytes(marker)
      val v = SnapshotTable.append(docs(3 until 6), t)
      assert(v == 3, "writer skipped the occupied slot")
      assert(Files.readAllBytes(marker).sameElements(bytes),
        "occupied manifest bytes untouched")
    } finally rmrf(t)
  }

  test("validate refuses a snapshot whose data files were tampered with") {
    val t = tmpTable("snap-tamper")
    try {
      SnapshotTable.create(docs(0 until 20), t)
      SnapshotTable.validate(spark, t, 1)
      // Rewrite one data file with different rows, keeping the name.
      val m = SnapshotTable.manifest(spark, t, 1)
      val victim = Paths.get(t, m.files.head.path)
      val fresh = Files.createTempDirectory("snap-fresh")
      docs(900 until 920).coalesce(1).write
        .mode("overwrite").parquet(fresh.toString)
      val replacement = Files.list(fresh.resolve("."))
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      tamper(victim, replacement)
      val e = intercept[IllegalArgumentException] {
        SnapshotTable.validate(spark, t, 1)
      }
      assert(e.getMessage.contains("contradicts its lineage"))
    } finally rmrf(t)
  }

  test("expire drops old snapshots and exactly their unshared data dirs") {
    val t = tmpTable("snap-expire")
    try {
      SnapshotTable.create(docs(0 until 4), t) // files A
      SnapshotTable.append(docs(4 until 8), t) // files A+B
      SnapshotTable.overwrite(docs(8 until 12), t) // files C
      val (manifests, dataDirs) = SnapshotTable.expire(spark, t, keepLast = 2)
      assert(manifests == 1, "v1 dropped")
      assert(dataDirs == 0, "v1's files still referenced by v2's append")
      // v1 gone, v2/v3 intact
      intercept[IllegalArgumentException] {
        SnapshotTable.readVersion(spark, t, 1)
      }
      assert(SnapshotTable.readVersion(spark, t, 2).count() == 8)
      assert(SnapshotTable.read(spark, t).count() == 4)

      val (m2, d2) = SnapshotTable.expire(spark, t, keepLast = 1)
      assert(m2 == 1, "v2 dropped")
      assert(d2 == 2, "A and B now unreferenced; C retained")
      assert(SnapshotTable.read(spark, t).count() == 4)
      SnapshotTable.validate(spark, t, 3)
    } finally rmrf(t)
  }

  test("rollback publishes an old file set as the new current snapshot") {
    val t = tmpTable("snap-rollback")
    try {
      SnapshotTable.create(docs(0 until 6), t)
      SnapshotTable.overwrite(docs(100 until 102), t)
      val v = SnapshotTable.rollback(spark, t, 1)
      assert(v == 3)
      assert(SnapshotTable.read(spark, t).count() == 6)
      assert(SnapshotTable.manifest(spark, t, 3).summary
        .get("rolledBackTo").contains("1"))
      SnapshotTable.validate(spark, t, 3)
    } finally rmrf(t)
  }

  test("empty dataframe commits cleanly and reads back empty with schema") {
    val t = tmpTable("snap-empty")
    try {
      SnapshotTable.create(docs(0 until 0), t)
      val back = SnapshotTable.read(spark, t)
      assert(back.count() == 0)
      assert(back.columns.toSeq == Seq("id", "text"))
      SnapshotTable.validate(spark, t, 1)
    } finally rmrf(t)
  }

  test("the committed schema equals the one parquet footers infer") {
    val t = tmpTable("snap-schema")
    try {
      val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s").select(
        col("id"), // non-nullable
        col("s"),
        array(col("id"), lit(null).cast("long")).as("arr"),
        struct(col("id").as("k"), col("s").as("v")).as("st"),
        timestamp_seconds(col("id")).as("ts"))
      assert(!df.schema("id").nullable)
      SnapshotTable.create(df, t)
      val m = SnapshotTable.manifest(spark, t, 1)
      val inferred = spark.read
        .parquet(m.files.map(fl => s"$t/${fl.path}"): _*).schema
      assert(m.schemaJson == inferred.json)
      assertSameRows(SnapshotTable.read(spark, t), df)
    } finally rmrf(t)
  }

  test("table is relocatable: manifests store root-relative paths") {
    val t = tmpTable("snap-move")
    try {
      SnapshotTable.create(docs(0 until 7), t)
      val moved = Files.createTempDirectory("snap-moved").resolve("t")
      Files.move(Paths.get(t), moved)
      try {
        assert(SnapshotTable.read(spark, moved.toString).count() == 7)
        SnapshotTable.validate(spark, moved.toString, 1)
      } finally rmrf(moved.toString)
    } finally rmrf(t)
  }

  test("hdfs-like scheme: full lifecycle through the rename publish path") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.mockfs.impl", classOf[MockHdfsLikeFs].getName)
    val local = Files.createTempDirectory("snap-mockfs").resolve("t")
    val t = s"mockfs://$local"
    try {
      val v1 = SnapshotTable.create(docs(0 until 12), t)
      val v2 = SnapshotTable.append(docs(12 until 20), t)
      assert((v1, v2) == ((1, 2)))
      assert(SnapshotTable.read(spark, t).count() == 20)
      assert(SnapshotTable.readVersion(spark, t, 1).count() == 12)
      SnapshotTable.validate(spark, t, 2)

      // Occupied version slot: rename-based put-if-absent must refuse to
      // clobber it and the writer must land on the next version.
      val meta = local.resolve("metadata")
      Files.copy(meta.resolve("v00001.json"), meta.resolve("v00003.json"))
      val occupied = Files.readAllBytes(meta.resolve("v00003.json"))
      val v = SnapshotTable.append(docs(20 until 25), t)
      assert(v == 4, "writer skipped the occupied slot via rename refusal")
      assert(Files.readAllBytes(meta.resolve("v00003.json"))
        .sameElements(occupied), "occupied manifest untouched")
      // The interleaved v3 (a copy of v1) became the parent: appending
      // onto it yields v1's 12 rows + the 5 new ones.
      assert(SnapshotTable.read(spark, t).count() == 17)
    } finally rmrf(local.toString)
  }

  test("Iterate snapshot mode: per-iteration commits, resume, metrics") {
    val dir = Files.createTempDirectory("snap-iter").toString
    val init = Seq((1L, 0), (2L, 0)).toDF("vid", "n")
    val step = (s: org.apache.spark.sql.DataFrame, _: IterMetrics) =>
      s.select(col("vid"), (col("n") + 1).as("n"))
    val cp = CheckpointConfig(Some(dir), runId = "r1", snapshot = true)
    // First run: 4 rounds -> snapshots v1..v4.
    val first = Iterate.run(init, 4, step,
      stop = Iterate.fixedRounds, checkpoint = cp)
    assert(first.state.head().getInt(1) == 4)
    val table = s"$dir/r1"
    val hist = SnapshotTable.snapshots(spark, table)
    assert(hist.map(_.version) == Seq(1, 2, 3, 4))
    assert(hist.map(_.summary("iteration")) == Seq("1", "2", "3", "4"),
      "each snapshot carries its superstep's convergence metrics")
    assert(hist.forall(_.summary.contains("wallMs")))
    // Any earlier iteration's full vertex state is time-travelable.
    assert(SnapshotTable.readVersion(spark, table, 2)
      .agg(sum("n")).head().getLong(0) == 4)

    // Resume: rounds 5..6 only, chained onto the validated v4 state.
    val resumed = Iterate.run(init, 6, step,
      stop = Iterate.fixedRounds, checkpoint = cp)
    assert(resumed.state.orderBy("vid").collect().map(_.getInt(1)).toSeq
      == Seq(6, 6))
    assert(resumed.metrics.size == 2, "only rounds 5..6 re-ran")
    assert(SnapshotTable.currentVersionOpt(spark, table).contains(6))
  }

  test("Iterate snapshot mode refuses to resume from tampered state") {
    val dir = Files.createTempDirectory("snap-iter-bad").toString
    val init = Seq((1L, 0)).toDF("vid", "n")
    val step = (s: org.apache.spark.sql.DataFrame, _: IterMetrics) =>
      s.select(col("vid"), (col("n") + 1).as("n"))
    val cp = CheckpointConfig(Some(dir), runId = "r1", snapshot = true)
    Iterate.run(init, 3, step, stop = Iterate.fixedRounds, checkpoint = cp)
    val table = s"$dir/r1"
    // Swap v3's data file for v1's (same schema, different content).
    val m3 = SnapshotTable.manifest(spark, table, 3)
    val m1 = SnapshotTable.manifest(spark, table, 1)
    tamper(Paths.get(table, m3.files.head.path),
      Paths.get(table, m1.files.head.path))
    val e = intercept[IllegalArgumentException] {
      Iterate.run(init, 5, step, stop = Iterate.fixedRounds, checkpoint = cp)
    }
    assert(e.getMessage.contains("contradicts its lineage"))
  }

  test("manifest column stats prune data files at scan time") {
    import org.apache.spark.sql.sources._
    val t = tmpTable("snap-stats")
    try {
      // Three appends with disjoint id ranges, one data file each — the
      // key-clustered layout a 100 TB table would have.
      SnapshotTable.create(docs(0 until 100).repartition(1), t)
      SnapshotTable.append(docs(100 until 200).repartition(1), t)
      SnapshotTable.append(docs(200 until 300).repartition(1), t)

      val m = SnapshotTable.manifest(spark, t, 3)
      assert(m.files.size == 3)
      val idStats = m.files.flatMap(_.stats.get.find(_.name == "id"))
      assert(idStats.map(s => (s.min.get.toLong, s.max.get.toLong)).toSet
        == Set((0L, 99L), (100L, 199L), (200L, 299L)))
      assert(idStats.forall(_.nulls == 0))

      // Point lookup plans exactly one file.
      val point = SnapshotTable.scan(spark, t, Seq(EqualTo("id", 150L)))
      assert(point.inputFiles.length == 1)
      assert(point.collect().map(_.getLong(0)).toSeq == Seq(150L))

      // Range crossing one boundary plans two of three files.
      val range = SnapshotTable.scan(spark, t,
        Seq(GreaterThanOrEqual("id", 150L), LessThan("id", 250L)))
      assert(range.inputFiles.length == 2)
      assert(range.count() == 100)

      // Disjunction of two point lookups plans the two matching files.
      val or = SnapshotTable.scan(spark, t,
        Seq(Or(EqualTo("id", 5L), EqualTo("id", 250L))))
      assert(or.inputFiles.length == 2)
      assert(or.collect().map(_.getLong(0)).toSet == Set(5L, 250L))

      // String stats prune too (text-NNN sorts lexicographically within
      // a file's contiguous range only by prefix — equality still works).
      val s = SnapshotTable.scan(spark, t, Seq(EqualTo("text", "text-250")))
      assert(s.inputFiles.length < 3 && s.count() == 1)

      // Nothing survives an out-of-range predicate: zero files planned.
      val none = SnapshotTable.scan(spark, t, Seq(GreaterThan("id", 999L)))
      assert(none.inputFiles.isEmpty && none.count() == 0)
      assert(none.schema == SnapshotTable.read(spark, t).schema)

      // Pruned scan == unpruned filter, exactly.
      val want = SnapshotTable.read(spark, t)
        .where(col("id") >= 150L && col("id") < 250L)
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(range.collect().map(_.getLong(0)).sorted.toSeq == want)
    } finally rmrf(t)
  }

  test("scan pruning is null-aware and conservative on unknown shapes") {
    import org.apache.spark.sql.sources._
    val t = tmpTable("snap-nulls")
    try {
      val noNulls = Seq((1L, "a"), (2L, "b")).toDF("id", "text")
      val allNull = Seq((3L, null: String), (4L, null: String))
        .toDF("id", "text")
      SnapshotTable.create(noNulls.repartition(1), t)
      SnapshotTable.append(allNull.repartition(1), t)

      val isNull = SnapshotTable.scan(spark, t, Seq(IsNull("text")))
      assert(isNull.inputFiles.length == 1 && isNull.count() == 2)

      val notNull = SnapshotTable.scan(spark, t, Seq(IsNotNull("text")))
      assert(notNull.inputFiles.length == 1 && notNull.count() == 2)

      // Equality on an all-null file's column can't match it; the
      // in-bounds-but-absent value is dropped by the other file's BLOOM
      // too (range stats alone would have kept it), so nothing is
      // planned and the result is still exact.
      val eq = SnapshotTable.scan(spark, t, Seq(EqualTo("text", "aa")))
      assert(eq.inputFiles.length <= 1 && eq.count() == 0)

      // Unknown column and un-boundable shapes are kept (and still exact).
      val contains = SnapshotTable.scan(spark, t,
        Seq(StringContains("text", "a")))
      assert(contains.inputFiles.length == 2 && contains.count() == 1)

      // StartsWith prunes by prefix bounds.
      val sw = SnapshotTable.scan(spark, t,
        Seq(StringStartsWith("text", "b")))
      assert(sw.inputFiles.length == 1 &&
        sw.collect().map(_.getString(1)).toSeq == Seq("b"))

      // Hostile literals never throw and never drop a maybe: a null
      // equality only touches null rows; NaN falls back to "keep".
      // (no inputFiles assertion: Catalyst constant-folds `= NULL` to
      // false and elides the scan entirely — even better than pruning)
      val eqNull = SnapshotTable.scan(spark, t,
        Seq(EqualTo("text", null)))
      assert(eqNull.count() == 0)
      val inNull = SnapshotTable.scan(spark, t,
        Seq(In("text", Array(null, "b"))))
      assert(inNull.inputFiles.length == 2 &&
        inNull.collect().map(_.getString(1)).toSeq == Seq("b"))
      val nan = SnapshotTable.scan(spark, t,
        Seq(GreaterThan("id", Double.NaN)))
      assert(nan.inputFiles.length == 2 && nan.count() == 0)
    } finally rmrf(t)
  }

  test("timestamp stats order correctly against whole-second literals") {
    import spark.implicits._
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan}
    val t = tmpTable("snap-ts")
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    try {
      // whole-second timestamps: Spark renders them WITHOUT a fraction,
      // java.sql.Timestamp.toString WITH one — lexicographic compare
      // would prune the matching file (round-4 review finding)
      SnapshotTable.create(
        (0L until 50L).map(i => (i, ts(i))).toDF("id", "ts")
          .repartition(1), t)
      SnapshotTable.append(
        (50L until 100L).map(i => (i, ts(i))).toDF("id", "ts")
          .repartition(1), t)

      val hit = SnapshotTable.scan(spark, t, Seq(EqualTo("ts", ts(49))))
      assert(hit.count() == 1 && hit.head().getLong(0) == 49L,
        "whole-second equality must not be pruned away")
      assert(hit.inputFiles.length == 1, "and still prunes to one file")

      val later = SnapshotTable.scan(spark, t,
        Seq(GreaterThan("ts", ts(49))))
      assert(later.count() == 50 && later.inputFiles.length == 1)

      // Instant literals order identically
      val viaInstant = SnapshotTable.scan(spark, t,
        Seq(EqualTo("ts", ts(7).toInstant)))
      assert(viaInstant.count() == 1 &&
        viaInstant.head().getLong(0) == 7L)

      // and pruning stays sound when the session zone differs from the
      // JVM zone (stats are epoch micros, not wall-clock strings)
      val prevTz = spark.conf.get("spark.sql.session.timeZone")
      spark.conf.set("spark.sql.session.timeZone",
        "America/Los_Angeles")
      val t2 = tmpTable("snap-ts-tz")
      try {
        SnapshotTable.create(
          (0L until 10L).map(i => (i, ts(i))).toDF("id", "ts")
            .repartition(1), t2)
        val h = SnapshotTable.scan(spark, t2, Seq(EqualTo("ts", ts(3))))
        assert(h.count() == 1 && h.head().getLong(0) == 3L,
          "zone mismatch must not shift the stat bounds")
      } finally {
        rmrf(t2)
        spark.conf.set("spark.sql.session.timeZone", prevTz)
      }
    } finally rmrf(t)
  }

  test("stream high-water mark survives a rollback") {
    import spark.implicits._
    import graft.streaming.StreamIngest
    val t = tmpTable("snap-hwm-rb")
    try {
      def batch(ids: Range) = ids.map(i => (i.toLong, s"b-$i"))
        .toDF("id", "text")
      StreamIngest.commitBatch(batch(0 until 10), t, 0L)
      StreamIngest.commitBatch(batch(10 until 20), t, 1L)
      SnapshotTable.rollback(spark, t, 1)
      SnapshotTable.expire(spark, t, keepLast = 1)
      assert(StreamIngest.lastCommittedBatch(spark, t) == 1L,
        "rollback must carry the ledger (conservative: skip, never " +
          "double-apply)")
      assert(!StreamIngest.commitBatch(batch(10 until 20), t, 1L))
    } finally rmrf(t)
  }

  test("stream high-water mark survives maintenance and expiry") {
    import spark.implicits._
    import graft.streaming.StreamIngest
    val t = tmpTable("snap-hwm")
    try {
      def batch(ids: Range) = ids.map(i => (i.toLong, s"b-$i"))
        .toDF("id", "text")
      assert(StreamIngest.commitBatch(batch(0 until 30), t, 0L))
      assert(StreamIngest.commitBatch(batch(30 until 60), t, 1L))
      // maintenance after the stream commits
      SnapshotTable.compact(spark, t)
      SnapshotTable.delete(spark, t,
        Seq(org.apache.spark.sql.sources.EqualTo("id", 5L)))
      SnapshotTable.expire(spark, t, keepLast = 1)
      // only the delete snapshot remains — the ledger must survive it
      assert(StreamIngest.lastCommittedBatch(spark, t) == 1L)
      assert(!StreamIngest.commitBatch(batch(0 until 30), t, 1L),
        "a replay after maintenance+expiry must still be skipped")
      assert(SnapshotTable.read(spark, t).count() == 59)
    } finally rmrf(t)
  }

  test("clustered writes give the stats real pruning power") {
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
    val t = tmpTable("snap-cluster")
    try {
      // One unclustered commit of a SHUFFLED key range: every file spans
      // ~the whole range, so stats exist but can prune nothing.
      val shuffled = docs(0 until 400)
        .orderBy(xxhash64(col("id"))).repartition(4)
      SnapshotTable.create(shuffled, t)
      val narrow = Seq(GreaterThanOrEqual("id", 100L), LessThan("id", 110L))
      assert(SnapshotTable.scan(spark, t, narrow).inputFiles.length == 4,
        "unclustered files all span the key range — nothing prunable")

      // The same rows written through clustered(): consecutive ranges
      // land in separate files and the same scan plans one of four.
      SnapshotTable.overwrite(
        SnapshotTable.clustered(docs(0 until 400), Seq("id"), 4), t)
      val pruned = SnapshotTable.scan(spark, t, narrow)
      assert(pruned.inputFiles.length == 1,
        s"clustered write must prune to 1 file, planned " +
          s"${pruned.inputFiles.length}")
      assert(pruned.collect().map(_.getLong(0)).sorted.toSeq
        == (100L until 110L))
    } finally rmrf(t)
  }

  test("clustered file layout is a function of the rows alone") {
    val df = spark.range(0L, 20000L, 1L, 4)
      .select(col("id"), (col("id") % 7).as("g"))
    def layout(keys: Seq[String], n: Int): Seq[SnapshotTable.FileLineage] = {
      val t = tmpTable("snap-layout")
      try {
        SnapshotTable.create(SnapshotTable.clustered(df, keys, n), t)
        SnapshotTable.manifest(spark, t, 1).files
      } finally rmrf(t)
    }
    def shape(fs: Seq[SnapshotTable.FileLineage]) =
      fs.map(f => (f.rows, f.stats)).sortBy(_.toString)
    val before = layout(Seq("id"), 4)
    (0 until 50).foreach(_ => spark.sparkContext.emptyRDD[Int])
    assert(shape(layout(Seq("id"), 4)) == shape(before))
    assert(before.size == 4, shape(before))
    // few distinct keys: one file per key value
    val byG = layout(Seq("g"), 7)
    assert(byG.size == 7 && byG.forall(_.stats.get.exists(c =>
      c.name == "g" && c.min == c.max)), shape(byG))
  }

  test("compact merges small files into one content-identical snapshot") {
    val t = tmpTable("snap-compact")
    try {
      SnapshotTable.create(docs(0 until 50).repartition(1), t)
      SnapshotTable.append(docs(50 until 100).repartition(1), t)
      SnapshotTable.append(docs(100 until 150).repartition(2), t)
      assert(SnapshotTable.manifest(spark, t, 3).files.size == 4)

      val before = SnapshotTable.read(spark, t)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet

      val v = SnapshotTable.compact(spark, t) // 4 tiny files << target
      assert(v == 4)
      val m = SnapshotTable.manifest(spark, t, 4)
      assert(m.operation == "compact" && m.files.size == 1)
      assert(m.summary == Map("compactedFiles" -> "4", "intoFiles" -> "1"))
      assert(SnapshotTable.read(spark, t)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
        == before, "compaction preserves content exactly")
      SnapshotTable.validate(spark, t, 4)
      // pre-compaction snapshots stay time-travelable until expired
      assert(SnapshotTable.readVersion(spark, t, 2).count() == 100)
      // compacting an already-compact table is a no-op
      assert(SnapshotTable.compact(spark, t) == 4)
      // a rewrite is not add-only: incremental reads across it refuse
      val e = intercept[IllegalArgumentException] {
        SnapshotTable.readIncremental(spark, t, 1)
      }
      assert(e.getMessage.contains("compact"))
      // expire drops the pre-compaction files; current still validates
      SnapshotTable.expire(spark, t, keepLast = 1)
      SnapshotTable.validate(spark, t, 4)
      assert(SnapshotTable.read(spark, t).count() == 150)
    } finally rmrf(t)
  }

  test("upsert checks uniqueness and key bounds in one job: a 30+30-row " +
      "upsert runs 4 jobs") {
    val t = tmpTable("snap-upsert-jobs")
    try {
      SnapshotTable.create(docs(0 until 30), t)
      val jobs = jobsDuring(
        SnapshotTable.upsert(docs(15 until 45), t, Seq("id")))
      assert(jobs.size == 4, jobs)
      assert(SnapshotTable.read(spark, t).count() == 45)
    } finally rmrf(t)
  }

  test("upsert rewrites only the files its key bounds can touch") {
    import spark.implicits._
    val t = tmpTable("snap-upsert")
    try {
      // key-clustered: three files with disjoint id ranges
      SnapshotTable.create(docs(0 until 100).repartition(1), t)
      SnapshotTable.append(docs(100 until 200).repartition(1), t)
      SnapshotTable.append(docs(200 until 300).repartition(1), t)
      val before = SnapshotTable.manifest(spark, t, 3)

      // update two mid-range rows: only the middle file is rewritten
      val fix = Seq((150L, "fixed-150"), (155L, "fixed-155"))
        .toDF("id", "text")
      val v4 = SnapshotTable.upsert(fix, t, Seq("id"))
      val m4 = SnapshotTable.manifest(spark, t, v4)
      assert(m4.operation == "upsert")
      assert(m4.summary("rewrittenFiles") == "1" &&
        m4.summary("carriedFiles") == "2")
      val carried = before.files.map(_.path).toSet
        .intersect(m4.files.map(_.path).toSet)
      assert(carried.size == 2, "untouched files carry over by path")
      val cur = SnapshotTable.read(spark, t)
      assert(cur.count() == 300)
      assert(cur.where(col("id") === 150L).head().getString(1)
        == "fixed-150")
      assert(cur.where(col("id") === 42L).head().getString(1)
        == "text-42", "rows outside the fix are untouched")
      SnapshotTable.validate(spark, t, v4)
      // time travel: the pre-upsert snapshot still has the old row
      assert(SnapshotTable.readVersion(spark, t, 3)
        .where(col("id") === 150L).head().getString(1) == "text-150")

      // an out-of-range insert touches nothing: 0 rewritten, 3 carried
      val v5 = SnapshotTable.upsert(
        Seq((1000L, "new-1000")).toDF("id", "text"), t, Seq("id"))
      val m5 = SnapshotTable.manifest(spark, t, v5)
      assert(m5.summary("rewrittenFiles") == "0" &&
        m5.summary("carriedFiles") == m4.files.size.toString)
      assert(SnapshotTable.read(spark, t).count() == 301)
      SnapshotTable.validate(spark, t, v5)

      // mixed update+insert in one call
      val v6 = SnapshotTable.upsert(
        Seq((0L, "fixed-0"), (2000L, "new-2000")).toDF("id", "text"),
        t, Seq("id"))
      val r6 = SnapshotTable.read(spark, t)
      assert(r6.count() == 302 &&
        r6.where(col("id") === 0L).head().getString(1) == "fixed-0")
      assert(SnapshotTable.manifest(spark, t, v6)
        .summary("rewrittenFiles").toInt >= 1)

      // duplicate keys refuse loudly
      val e = intercept[IllegalArgumentException] {
        SnapshotTable.upsert(
          Seq((1L, "x"), (1L, "y")).toDF("id", "text"), t, Seq("id"))
      }
      assert(e.getMessage.contains("unique"))
    } finally rmrf(t)
  }

  test("delete rewrites only the files its predicate can touch") {
    import org.apache.spark.sql.sources._
    val t = tmpTable("snap-delete")
    try {
      SnapshotTable.create(docs(0 until 100).repartition(1), t)
      SnapshotTable.append(docs(100 until 200).repartition(1), t)
      SnapshotTable.append(docs(200 until 300).repartition(1), t)

      val v4 = SnapshotTable.delete(spark, t,
        Seq(GreaterThanOrEqual("id", 150L), LessThan("id", 160L)))
      val m4 = SnapshotTable.manifest(spark, t, v4)
      assert(m4.operation == "delete")
      assert(m4.summary("rewrittenFiles") == "1" &&
        m4.summary("carriedFiles") == "2" &&
        m4.summary("deletedRows") == "10")
      val cur = SnapshotTable.read(spark, t)
      assert(cur.count() == 290 &&
        cur.where(col("id") >= 150L && col("id") < 160L).count() == 0)
      SnapshotTable.validate(spark, t, v4)
      // the pre-delete snapshot still holds the rows
      assert(SnapshotTable.readVersion(spark, t, 3).count() == 300)

      // a provably-unmatched delete publishes nothing
      assert(SnapshotTable.delete(spark, t,
        Seq(GreaterThan("id", 5000L))) == v4)

      // an unfiltered delete refuses
      val e = intercept[IllegalArgumentException] {
        SnapshotTable.delete(spark, t, Seq.empty)
      }
      assert(e.getMessage.contains("unfiltered"))
    } finally rmrf(t)
  }

  test("delete keeps NULL-predicate rows (SQL DELETE semantics)") {
    import spark.implicits._
    import org.apache.spark.sql.sources.EqualTo
    val t = tmpTable("snap-del-null")
    try {
      SnapshotTable.create(
        Seq((1L, "a"), (2L, null: String), (3L, "b"))
          .toDF("id", "text").repartition(1), t)
      SnapshotTable.delete(spark, t, Seq(EqualTo("text", "a")))
      val left = SnapshotTable.read(spark, t).collect()
        .map(_.getLong(0)).sorted.toSeq
      assert(left == Seq(2L, 3L),
        "DELETE WHERE text='a' must keep the NULL-text row")
    } finally rmrf(t)
  }

  test("the stream-batch gate is atomic inside the commit loop") {
    import spark.implicits._
    val t = tmpTable("snap-gate")
    try {
      val b = Seq((1L, "x")).toDF("id", "text")
      assert(SnapshotTable.appendBatch(b, t, 0L))
      // a second committer of the SAME id loses even without the
      // caller-side ledger pre-check (the zombie-driver race)
      assert(!SnapshotTable.appendBatch(b, t, 0L))
      assert(!SnapshotTable.appendBatch(b, t, 0L))
      assert(SnapshotTable.appendBatch(b, t, 1L))
      assert(SnapshotTable.read(spark, t).count() == 2)
      // simultaneous same-id committers: exactly one wins
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val wins = Await.result(
        Future.sequence((0 until 4).map { _ =>
          Future(SnapshotTable.appendBatch(b, t, 2L))
        }), Duration(180, "s"))
      pool.shutdown()
      assert(wins.count(identity) == 1,
        s"exactly one same-batch committer may land: $wins")
      assert(SnapshotTable.read(spark, t).count() == 3)
    } finally rmrf(t)
  }

  test("schema evolution: mergeSchema appends widen, old files read null") {
    import spark.implicits._
    val t = tmpTable("snap-evolve")
    try {
      SnapshotTable.create(docs(0 until 10), t) // (id, text)
      // Widen with a score column.
      val scored = Seq((100L, "s-100", 0.5), (101L, "s-101", 1.5))
        .toDF("id", "text", "score")
      SnapshotTable.append(scored, t, mergeSchema = true)
      val cur = SnapshotTable.read(spark, t)
      assert(cur.columns.toSeq == Seq("id", "text", "score"))
      assert(cur.count() == 12)
      assert(cur.where(col("score").isNull).count() == 10,
        "pre-evolution files read the new column as null")
      assert(cur.agg(sum("score")).head().getDouble(0) == 2.0)

      // A narrower append (omits text AND score) is also legal.
      SnapshotTable.append(Seq(200L).toDF("id"), t, mergeSchema = true)
      val v3 = SnapshotTable.read(spark, t)
      assert(v3.count() == 13 &&
        v3.where(col("id") === 200L && col("text").isNull).count() == 1)

      // validate re-derives each file's checksum over ITS sealed columns.
      (1 to 3).foreach(v => SnapshotTable.validate(spark, t, v))

      // Time travel renders each snapshot in its own schema.
      assert(SnapshotTable.readVersion(spark, t, 1).columns.toSeq
        == Seq("id", "text"))

      // Scans over the evolved schema stay exact (old files conservatively
      // kept for new-column predicates, then filtered precisely).
      import org.apache.spark.sql.sources._
      val hit = SnapshotTable.scan(spark, t, Seq(GreaterThan("score", 1.0)))
      assert(hit.collect().map(_.getLong(0)).toSeq == Seq(101L))

      // Type conflicts refuse; unmerged mismatches point at mergeSchema.
      val conflict = Seq((1L, 2L)).toDF("id", "score")
      val e1 = intercept[IllegalArgumentException] {
        SnapshotTable.append(conflict, t, mergeSchema = true)
      }
      assert(e1.getMessage.contains("type conflict"))
      val e2 = intercept[IllegalArgumentException] {
        SnapshotTable.append(Seq(1L).toDF("id"), t)
      }
      assert(e2.getMessage.contains("mergeSchema"))
    } finally rmrf(t)
  }

  test("concurrent appenders all land under optimistic concurrency") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val t = tmpTable("snap-race")
    try {
      SnapshotTable.create(docs(0 until 5), t)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      // four genuinely simultaneous appends race on the version file;
      // losers must retry onto the next slot, losing no data
      val versions = Await.result(
        Future.sequence((0 until 4).map { k =>
          Future(SnapshotTable.append(
            docs((100 + k * 10) until (110 + k * 10)), t))
        }), Duration(180, "s"))
      pool.shutdown()
      assert(versions.toSet == Set(2, 3, 4, 5),
        s"each append must land a distinct version: $versions")
      assert(SnapshotTable.read(spark, t).count() == 45,
        "no append may be lost or doubled")
      SnapshotTable.validate(spark, t, 5)
      assert(SnapshotTable.snapshots(spark, t).map(_.parentVersion)
        == Seq(-1, 1, 2, 3, 4), "linear history, no forks")
    } finally rmrf(t)
  }

  test("readChanges nets full-row multisets across any commit kind") {
    import spark.implicits._
    import org.apache.spark.sql.sources.EqualTo
    val t = tmpTable("snap-cdc")
    def changes(from: Int, to: Int = -1) =
      SnapshotTable.readChanges(spark, t, from, to).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3))).toSet
    try {
      SnapshotTable.create(docs(0 until 50).repartition(1), t) // v1
      SnapshotTable.append(docs(50 until 60).repartition(1), t) // v2
      assert(changes(1, 2) ==
        (50 until 60).map(i => (i.toLong, s"text-$i", "insert", 1L)).toSet)

      // upsert: delete(old)+insert(new) ONLY for the changed key — the
      // other rows of the rewritten file net out
      SnapshotTable.upsert(
        Seq((7L, "fixed-7")).toDF("id", "text"), t, Seq("id")) // v3
      assert(changes(2, 3) ==
        Set((7L, "text-7", "delete", 1L), (7L, "fixed-7", "insert", 1L)))

      // compaction is content-preserving: zero changes
      val v4 = SnapshotTable.compact(spark, t)
      assert(changes(3, v4).isEmpty)

      // delete emits the removed rows (and only them)
      SnapshotTable.delete(spark, t, Seq(EqualTo("id", 55L))) // v5
      assert(changes(v4) == Set((55L, "text-55", "delete", 1L)))

      // the whole span nets create->now correctly for the changed keys
      val span = changes(1)
      assert(span.contains((7L, "fixed-7", "insert", 1L)) &&
        span.contains((7L, "text-7", "delete", 1L)) &&
        !span.exists(c => c._1 == 8L))
    } finally rmrf(t)
  }

  test("incremental read plans exactly the files appended in the range") {
    val t = tmpTable("snap-incr")
    try {
      SnapshotTable.create(docs(0 until 10), t) // v1
      SnapshotTable.append(docs(10 until 25), t) // v2
      SnapshotTable.append(docs(25 until 40), t) // v3

      val d12 = SnapshotTable.readIncremental(spark, t, 1, 2)
      assert(d12.agg(sum("id")).head().getLong(0) == (10 until 25).sum)
      val d13 = SnapshotTable.readIncremental(spark, t, 1)
      assert(d13.count() == 30)
      // No re-read of the base: only the appended files are planned.
      val v1Files = SnapshotTable.manifest(spark, t, 1).files.map(_.path)
      assert(d13.inputFiles.forall(f => !v1Files.exists(f.endsWith)))
      // Empty range reads back empty with the table schema.
      val d22 = SnapshotTable.readIncremental(spark, t, 2, 2)
      assert(d22.count() == 0 &&
        d22.schema == SnapshotTable.read(spark, t).schema)

      // An overwrite in the range is not add-only: refuse, loudly.
      SnapshotTable.overwrite(docs(0 until 3), t) // v4
      val e = intercept[IllegalArgumentException] {
        SnapshotTable.readIncremental(spark, t, 1)
      }
      assert(e.getMessage.contains("overwrite"))
    } finally rmrf(t)
  }

  test("bloom stats prune point lookups where range stats cannot") {
    import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, In,
      LessThanOrEqual}
    val t = tmpTable("snap-bloom")
    try {
      // Interleaved keys: BOTH files span the full key range, so min/max
      // alone can never prune a point probe — the high-cardinality
      // unclustered shape blooms exist for.
      val even = (0 until 200 by 2).map(i => (i.toLong * 10, s"d-${i * 10}"))
        .toDF("id", "text")
      val odd = (1 until 200 by 2).map(i => (i.toLong * 10, s"d-${i * 10}"))
        .toDF("id", "text")
      SnapshotTable.create(even.repartition(1), t)
      SnapshotTable.append(odd.repartition(1), t)

      // range-only predicates keep both files
      val range = SnapshotTable.scan(spark, t,
        Seq(GreaterThanOrEqual("id", 420L), LessThanOrEqual("id", 420L)))
      assert(range.inputFiles.length == 2,
        "interleaved files are range-indistinguishable")
      // the bloom prunes the odd file for an even key — and the result
      // is still exact
      val eq = SnapshotTable.scan(spark, t, Seq(EqualTo("id", 420L)))
      assert(eq.inputFiles.length == 1, "bloom did not prune")
      assert(eq.count() == 1 && eq.head().getLong(0) == 420L)
      // string-typed point lookups probe their own bloom
      val eqs = SnapshotTable.scan(spark, t, Seq(EqualTo("text", "d-430")))
      assert(eqs.inputFiles.length == 1 && eqs.count() == 1)
      // an in-range key present in NEITHER file: blooms prune everything
      val none = SnapshotTable.scan(spark, t, Seq(EqualTo("id", 3L)))
      assert(none.inputFiles.isEmpty && none.count() == 0)
      // In() probes every candidate: one present value keeps one file
      val in = SnapshotTable.scan(spark, t,
        Seq(In("id", Array(420L, 3L))))
      assert(in.inputFiles.length == 1 && in.count() == 1)
    } finally rmrf(t)
  }

  test("string stats order in UTF-8 (code-point) space, not UTF-16 units") {
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan}
    val t = tmpTable("snap-utf8")
    try {
      // One file whose only text is a supplementary-plane char (U+1F600,
      // UTF-16 surrogates 0xD83D 0xDE00). In Java's UTF-16 code-unit
      // order it sorts BELOW the BMP private-use char U+E000; in the
      // UTF-8/code-point order Spark's min/max computed it sorts ABOVE.
      // A code-unit comparator would prune the file for `> U+E000` and
      // return a silently empty (wrong) result.
      val emoji = new String(Character.toChars(0x1F600))
      SnapshotTable.create(
        Seq((1L, emoji)).toDF("id", "text").repartition(1), t)
      SnapshotTable.append(
        Seq((2L, "aaa")).toDF("id", "text").repartition(1), t)
      val hi = SnapshotTable.scan(spark, t,
        Seq(GreaterThan("text", "")))
      assert(hi.count() == 1 && hi.head().getLong(0) == 1L,
        "file with supplementary-plane max wrongly pruned")
      assert(hi.inputFiles.length == 1, "the 'aaa' file should be pruned")
      val eq = SnapshotTable.scan(spark, t, Seq(EqualTo("text", emoji)))
      assert(eq.count() == 1 && eq.inputFiles.length == 1)
    } finally rmrf(t)
  }

  test("a lost stream-batch gate leaves no orphan data directory") {
    val t = tmpTable("snap-gate-orphan")
    try {
      val b = Seq((1L, "x")).toDF("id", "text")
      assert(SnapshotTable.appendBatch(b, t, 0L))
      assert(!SnapshotTable.appendBatch(b, t, 0L)) // replay loses the gate
      assert(!SnapshotTable.appendBatch(b, t, 0L))
      // the losers' uuid dirs were cleaned inside commit(): nothing for
      // vacuum to collect
      assert(SnapshotTable.vacuum(spark, t) == 0,
        "lost-gate replays left orphan data dirs")
      // a failed create against an existing table cleans up too
      intercept[IllegalArgumentException] {
        SnapshotTable.create(b, t)
      }
      assert(SnapshotTable.vacuum(spark, t) == 0)
      assert(SnapshotTable.read(spark, t).count() == 1)
    } finally rmrf(t)
  }

  test("expire never touches an in-flight (uncommitted) commit's dir") {
    val t = tmpTable("snap-expire-inflight")
    try {
      SnapshotTable.create(docs(0 until 4), t) // v1
      SnapshotTable.overwrite(docs(4 until 8), t) // v2
      // simulate a commit mid-flight: data written, manifest not yet
      // published (step 1 of commit() before tryPublish)
      docs(100 until 104).write.parquet(s"$t/data/inflight-uuid")
      val (m, d) = SnapshotTable.expire(spark, t, keepLast = 1)
      assert(m == 1 && d == 1, "v1 and exactly its own dir dropped")
      assert(Files.exists(Paths.get(s"$t/data/inflight-uuid")),
        "expire deleted an uncommitted writer's directory")
      assert(SnapshotTable.read(spark, t).count() == 4)
    } finally rmrf(t)
  }

  /** The per-file lineage aggregate the writer's fold replaced, kept as
    * an oracle: one `groupBy(input_file_name())` over a read of the
    * files, collecting rows, the decimal(38,0) xxhash64 sum, rendered
    * min/max (timestamps as epoch micros), null counts and the bloom bit
    * positions `pmod(xxhash64(render(v), k), 8192)`, k < 4; a bound
    * longer than 64 characters drops both of the column's bounds. */
  private def lineageOracle(onDisk: org.apache.spark.sql.DataFrame)
      : Seq[SnapshotTable.FileLineage] = {
    import org.apache.spark.sql.types._
    val (bloomBits, bloomK, maxStatLen) = (8192, 4, 64)
    val statCols = onDisk.schema.fields.toSeq.filter(_.dataType match {
      case _: NumericType | StringType | BooleanType | DateType |
          TimestampType => true
      case _ => false
    })
    val bloomCols = statCols.filter(f => f.dataType match {
      case ByteType | ShortType | IntegerType | LongType | StringType => true
      case _ => false
    })
    val statExprs = statCols.zipWithIndex.flatMap { case (f, i) =>
      val c = if (f.dataType == TimestampType) unix_micros(col(f.name))
        else col(f.name)
      Seq(min(c).cast("string").as(s"_mn$i"),
        max(c).cast("string").as(s"_mx$i"),
        sum(when(col(f.name).isNull, 1L).otherwise(0L)).as(s"_nn$i"))
    }
    val bloomExprs = bloomCols.zipWithIndex.flatMap { case (f, i) =>
      val rendered = if (f.dataType == StringType) col(f.name)
        else col(f.name).cast("string")
      (0 until bloomK).map(k => collect_set(when(col(f.name).isNotNull,
        pmod(xxhash64(rendered, lit(k)), lit(bloomBits)).cast("int")))
        .as(s"_bl${i}_$k"))
    }
    val bloomBase = 3 + statCols.size * 3
    val bloomIdx = bloomCols.map(_.name).zipWithIndex.toMap
    onDisk.groupBy(input_file_name().as("f"))
      .agg(count(lit(1)).as("rows"),
        (sum(xxhash64(onDisk.columns.toSeq.map(col): _*)
          .cast("decimal(38,0)")).as("checksum") +:
          (statExprs ++ bloomExprs)): _*)
      .collect().toSeq
      .map { r =>
        val stats = statCols.zipWithIndex.map { case (f, i) =>
          def v(j: Int) = if (r.isNullAt(j)) None else Some(r.getString(j))
          val (mn, mx) = (v(3 + i * 3), v(4 + i * 3))
          val keep = (mn ++ mx).forall(_.length <= maxStatLen)
          val bloom = bloomIdx.get(f.name).map { bi =>
            val bits = new java.util.BitSet(bloomBits)
            (0 until bloomK).foreach(k =>
              r.getSeq[Int](bloomBase + bi * bloomK + k).foreach(bits.set))
            java.util.Base64.getEncoder.encodeToString(bits.toByteArray)
          }
          SnapshotTable.ColStat(f.name, mn.filter(_ => keep),
            mx.filter(_ => keep), r.getLong(5 + i * 3), bloom)
        }
        val uri = r.getString(0)
        SnapshotTable.FileLineage(uri.substring(uri.lastIndexOf("/data/") + 1),
          r.getLong(1), r.getDecimal(2).toBigInteger.toString, Some(stats),
          Some(onDisk.columns.toSeq))
      }
      .sortBy(_.path)
  }

  test("the writer's lineage equals the groupBy(input_file_name()) " +
      "aggregate; an empty frame has no entry") {
    val range = spark.range(0, 30, 1, 3)
    val frames = Seq(
      "nulls" -> Seq((1L, Some("a"), None: Option[Int]), (2L, None, None),
        (3L, Some("c"), None)).toDF("id", "s", "allNull"),
      "integral" -> (0 until 40).map(i => (i.toByte,
        (i * 300 - 5000).toShort, i * 70001 - 1,
        (i - 20) * 230584300921369395L)).toDF("b", "sh", "i", "l"),
      "floating" -> Seq(0.0, -0.0, Double.NaN, 1.5, -2.25, 0.0,
        Double.NegativeInfinity, -0.0).map(d => (d, d.toFloat))
        .toDF("d", "f").coalesce(1),
      // equal bounds that render differently: Spark keeps the first
      "zeros, negative first" -> Seq(-0.0, 0.0).map(d => (d, d.toFloat))
        .toDF("d", "f").coalesce(1),
      "zeros, positive first" -> Seq(0.0, -0.0).map(d => (d, d.toFloat))
        .toDF("d", "f").coalesce(1),
      "NaN and zeros across files" -> Seq(Double.NaN, -0.0, 0.0, 3.0, -0.0,
        Double.NaN).map(d => (d, d.toFloat)).toDF("d", "f").repartition(2),
      "decimal, boolean, date, timestamp" -> range.select(
        when(col("id") % 5 =!= 0, (col("id") - 9).cast("decimal(10,3)") / 7)
          .cast("decimal(10,3)").as("dec"),
        when(col("id") % 4 =!= 0, col("id") % 3 === 0).as("bool"),
        date_add(lit("1969-12-01").cast("date"), (col("id") * 37).cast("int"))
          .as("date"),
        when(col("id") % 6 =!= 0,
          timestamp_seconds(col("id") * 86399L - 1000000L)).as("ts")),
      "long and non-BMP strings" -> Seq(("a", "y" * 70), ("x" * 70, "b"),
        ("😀!", null), ("", "c"), (null, ""))
        .toDF("s", "long").coalesce(1),
      "arrays and structs" -> range.select(col("id"),
        array(col("id"), lit(null).cast("long")).as("arr"),
        when(col("id") % 3 =!= 0, struct(col("id").as("k"),
          col("id").cast("string").as("v"))).as("st")),
      "several files, some partitions empty" -> spark.range(0, 40, 1, 4)
        .select((col("id") % 3).as("k"), col("id"),
          col("id").cast("string").as("s"))
        .repartition(8, col("k")))
    for ((name, df) <- frames) {
      val t = tmpTable("snap-oracle")
      try {
        SnapshotTable.create(df, t)
        val files = SnapshotTable.manifest(spark, t, 1).files
        val dataDir = Files.list(Paths.get(t, "data")).findFirst().get()
        val want =
          lineageOracle(spark.read.schema(df.schema).parquet(dataDir.toString))
        assert(files.nonEmpty && files == want,
          s"$name:\n  writer: $files\n  oracle: $want")
        if (name.startsWith("several")) assert(files.size > 1, name)
      } finally rmrf(t)
    }
    val t = tmpTable("snap-oracle-empty")
    try {
      SnapshotTable.create(docs(0 until 0).repartition(3), t)
      assert(SnapshotTable.manifest(spark, t, 1).files.isEmpty)
      val dataDir = Files.list(Paths.get(t, "data")).findFirst().get()
      assert(lineageOracle(spark.read.schema(docs(0 until 0).schema)
        .parquet(dataDir.toString)).isEmpty)
    } finally rmrf(t)
  }

  test("validate merges a file split across read partitions and refuses " +
      "one rewritten value") {
    val t = tmpTable("snap-split")
    val confs = Seq("parquet.block.size", "spark.sql.files.maxPartitionBytes")
    val saved = confs.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("parquet.block.size", "16384") // many row groups
      val df = spark.range(0, 20000, 1, 1).select(col("id"),
        sha2(col("id").cast("string"), 256).as("h"))
      SnapshotTable.create(df, t)
      val m = SnapshotTable.manifest(spark, t, 1)
      assert(m.files.size == 1)
      val file = Paths.get(t, m.files.head.path)
      spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
      assert(spark.read.parquet(file.toString).select(spark_partition_id())
        .distinct().count() > 1, "the file is not split")
      SnapshotTable.validate(spark, t, 1)
      // the same rows but one value, written the same way
      val fresh = Files.createTempDirectory("snap-split-fresh")
      df.withColumn("h", when(col("id") === 12345L, lit("x"))
          .otherwise(col("h")))
        .write.mode("overwrite").parquet(fresh.toString)
      tamper(file, Files.list(fresh)
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get())
      val e = intercept[IllegalArgumentException] {
        SnapshotTable.validate(spark, t, 1)
      }
      assert(e.getMessage.contains("contradicts its lineage"))
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      rmrf(t)
    }
  }

  test("a commit is one job, an Iterate round with a checkpoint is its " +
      "cut alone, and no job collects lineage") {
    import org.apache.spark.sql.sources.EqualTo
    val t = tmpTable("snap-jobs")
    val dir = Files.createTempDirectory("snap-jobs-iter").toString
    try {
      var sites = Seq.empty[String]
      def oneJob(op: String)(f: => Unit): Unit = {
        val js = jobsDuring(f)
        sites ++= js
        assert(js.size == 1 &&
          js.head.startsWith("parquet at SnapshotTable.scala"),
          s"$op ran ${js.size} jobs: $js")
      }
      oneJob("create")(SnapshotTable.create(docs(0 until 10), t))
      oneJob("append")(SnapshotTable.append(docs(10 until 20), t))
      oneJob("overwrite")(SnapshotTable.overwrite(docs(0 until 30), t))
      oneJob("appendBatch")(SnapshotTable.appendBatch(docs(30 until 35), t, 1L))
      oneJob("delete")(SnapshotTable.delete(spark, t, Seq(EqualTo("id", 3L))))
      sites ++= jobsDuring {
        SnapshotTable.upsert(docs(0 until 5), t, Seq("id"))
        SnapshotTable.compact(spark, t)
        SnapshotTable.validate(spark, t,
          SnapshotTable.currentVersionOpt(spark, t).get)
      }
      assert(SnapshotTable.read(spark, t).count() == 35)
      val rounds = 5
      val iter = jobsDuring(Iterate.run(
        (0L until 8L).toDF("vid").select(col("vid"), lit(0).as("n")), rounds,
        (s, _) => s.select(col("vid"), (col("n") + 1).as("n")),
        stop = Iterate.fixedRounds,
        checkpoint = CheckpointConfig(Some(dir), runId = "r")))
      sites ++= iter
      // the initial state's cut, then one cut per round that also writes
      // the round's snapshot
      assert(iter.size == rounds + 1 &&
        iter.forall(_.startsWith("localCheckpoint at Iterate.scala")), iter)
      assert(SnapshotTable.currentVersionOpt(spark, s"$dir/r") == Some(rounds))
      assert(!sites.exists(_.startsWith("collect at SnapshotTable.scala")),
        sites)
    } finally { rmrf(t); rmrf(s"$dir/r") }
  }
}
