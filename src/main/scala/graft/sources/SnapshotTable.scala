package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** A snapshot-versioned durable table — the in-sandbox re-expression of
  * the reference's durable result sinks: vineyard seal ops
  * (python/graphscope/framework/dag_utils.py:729-757
  * TO_VINEYARD_TENSOR/_DATAFRAME) and the interactive engine's ODPS sink
  * (interactive_engine/executor/.../query_flow.proto WRITE_ODPS(61)),
  * with Iceberg-style table semantics (the north rule's checkpoint
  * target): immutable parquet data files + a linear chain of JSON
  * manifest commits, atomic put-if-absent publication, snapshot reads,
  * time travel, rollback, snapshot expiry and orphan-file vacuum.
  *
  * Layout under the table root:
  * {{{
  *   data/<commit-uuid>/part-*.parquet   -- immutable, write-once
  *   metadata/v00001.json ...            -- one manifest per snapshot
  * }}}
  *
  * Scale posture (what makes this the 100 TB-shaped design):
  *  - readers NEVER list the data directory — every read plans exactly
  *    the manifest's file list, so uncommitted/failed writer output is
  *    invisible and object-store LIST storms don't exist;
  *  - a commit is one atomic metadata operation (hard-link create on
  *    POSIX, destination-must-not-exist rename on HDFS-likes), so
  *    concurrent writers conflict on the version file and the loser
  *    retries against the new current snapshot — optimistic concurrency
  *    exactly like Iceberg's;
  *  - the manifest carries per-FILE lineage (row count + an
  *    order-independent xxhash64 content checksum), computed
  *    distributed (one agg row per file), so a resume/validate never
  *    scans more than it would to read, and driver memory is O(files).
  */
object SnapshotTable {

  /** Per-column stats of one data file, min/max rendered through
    * `cast(string)` (None when the column is all-null in the file or the
    * rendered value exceeds [[MaxStatLen]] — a dropped bound only costs
    * pruning power, never correctness). Compared back through the
    * column's type in [[scan]], so numeric renderings like `1.0E-4`
    * order correctly. Iceberg analogue: per-data-file lower/upper bounds
    * + null counts in the manifest.
    *
    * `bloom` (integral/string columns only) is a base64 [[BloomBits]]-bit
    * Bloom filter of the file's values — Iceberg's next pruning lever
    * after bounds: on a HIGH-cardinality unclustered key, every file
    * spans the whole range and min/max keeps them all, while a point
    * predicate probes the bloom and plans only the files that might
    * contain the key. Absent on pre-r5 manifests (None = keep). */
  final case class ColStat(
      name: String, min: Option[String], max: Option[String], nulls: Long,
      bloom: Option[String] = None)

  /** Bloom geometry: 8192 bits / 4 probes. A file with ~2k distinct
    * values sits near 0.6 fill (useful fp rate); far past that the
    * filter saturates toward all-ones, which only costs pruning power —
    * never correctness. Values are hashed through the SAME
    * `xxhash64(render(v), seed)` expression on the write side
    * (distributed) and a driver-side catalyst eval on the read side, so
    * the two can never drift. */
  private val BloomBits = 8192
  private val BloomK = 4

  /** Types whose canonical rendering the read side reproduces EXACTLY
    * from a filter literal (integral toString / the string itself) —
    * bloom pruning is only sound when both sides hash identical bytes,
    * so float/decimal/timestamp renderings (engine-formatted) are out. */
  private def bloomable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType => true
    case _ => false
  }

  /** One immutable data file: table-root-relative path + its lineage.
    * `stats` is None on manifests written before column stats landed —
    * such files are never pruned, only ever kept. `cols` records the
    * column set the checksum covers (the file's own physical columns —
    * schema evolution can widen the TABLE schema after the file was
    * sealed); None on legacy manifests, which predate evolution and so
    * always match their snapshot's schema. */
  final case class FileLineage(path: String, rows: Long, checksum: String,
      stats: Option[Seq[ColStat]] = None,
      cols: Option[Seq[String]] = None)

  /** One committed snapshot. `parentVersion` is -1 for the first.
    * `summary` is caller metadata — the superstep runner records its
    * per-iteration convergence metrics here (graft.pregel.Iterate). */
  final case class Manifest(
      version: Int,
      parentVersion: Int,
      operation: String, // create | append | overwrite | rollback
      schemaJson: String,
      files: Seq[FileLineage],
      rows: Long,
      summary: Map[String, String],
      timestampMs: Long)

  private implicit val fmts: Formats = DefaultFormats
  private val MaxCommitAttempts = 8

  // ---------------------------------------------------------------- write

  /** Range-cluster `df` on `cols` before writing, so consecutive key
    * ranges land in separate data files and the manifest min/max stats
    * give [[scan]] real pruning power (Iceberg's write-ordering: stats
    * exist either way, but on an unclustered write every file spans the
    * whole key range and nothing can be skipped). `nFiles <= 0` keeps
    * the session shuffle parallelism. Pair with create/append/overwrite:
    * `SnapshotTable.create(SnapshotTable.clustered(df, Seq("id")), t)`. */
  def clustered(df: DataFrame, cols: Seq[String], nFiles: Int = 0)
      : DataFrame = {
    val keys = cols.map(col)
    val parts = if (nFiles > 0) nFiles
      else df.sparkSession.sessionState.conf.numShufflePartitions
    df.repartitionByRange(parts, keys: _*)
      .sortWithinPartitions(keys: _*)
  }

  /** Create a brand-new table; refuses to touch an existing one. */
  def create(df: DataFrame, table: String,
      summary: Map[String, String] = Map.empty): Int =
    commit(df, table, "create", summary)

  /** Append `df` as new data files; the new snapshot references the
    * parent's files plus the new ones. Schema must match the table's —
    * unless `mergeSchema`, which evolves it Iceberg-style: shared
    * columns must agree on type, new df columns join the table schema
    * (older files read them as null), and df may omit table columns
    * (its files read them as null). */
  def append(df: DataFrame, table: String,
      summary: Map[String, String] = Map.empty,
      mergeSchema: Boolean = false): Int =
    commit(df, table, "append", summary, mergeSchema)

  /** Replace the table contents with `df`. Older snapshots stay
    * readable via [[readVersion]] until [[expire]]d. Creates the table
    * when it doesn't exist yet. */
  def overwrite(df: DataFrame, table: String,
      summary: Map[String, String] = Map.empty): Int =
    commit(df, table, "overwrite", summary)

  /** Publish a new snapshot whose file set is exactly `asOfVersion`'s
    * (no data is rewritten — pure metadata, like Iceberg rollback). */
  def rollback(spark: SparkSession, table: String, asOfVersion: Int): Int = {
    val root = new Path(table)
    val f = fileSystem(spark, root)
    val old = manifest(spark, table, asOfVersion)
    var attempt = 0
    while (true) {
      val curV = currentVersionOpt(spark, table).getOrElse(
        throw new IllegalStateException(s"no table at $table"))
      val m = Manifest(curV + 1, curV, "rollback", old.schemaJson,
        old.files, old.rows,
        carryStreamMark(Some(manifest(spark, table, curV)),
          Map("rolledBackTo" -> asOfVersion.toString)),
        System.currentTimeMillis())
      if (tryPublish(f, root, m)) return m.version
      attempt += 1
      require(attempt < MaxCommitAttempts,
        s"gave up after $attempt conflicting commits on $table")
    }
    -1 // unreachable
  }

  /** Rewrite the current file set into ~`targetFileBytes` data files and
    * publish one `compact` snapshot — pure content-preserving
    * maintenance, Iceberg's `rewrite_data_files` (the answer to
    * streaming/incremental appends' small-file problem: a 100 TB table
    * fed by many small commits degrades every scan until merged). The
    * rewrite refuses to publish unless row count AND the
    * order-independent content checksum match the parent exactly. Old
    * snapshots stay time-travelable until [[expire]]d. Returns the new
    * version — or the current one when there is nothing to merge. */
  def compact(spark: SparkSession, table: String,
      targetFileBytes: Long = 128L << 20): Int = {
    val root = new Path(table)
    val f = fileSystem(spark, root)
    var attempt = 0
    while (true) {
      val curV = currentVersionOpt(spark, table).getOrElse(
        throw new IllegalStateException(s"no table at $table"))
      val parent = manifest(spark, table, curV)
      if (parent.files.size <= 1) return curV
      val totalBytes = parent.files.map(fl =>
        f.getFileStatus(new Path(root, fl.path)).getLen).sum
      val nFiles = math.max(1,
        math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
      if (nFiles >= parent.files.size) return curV // already compact

      val uuid = java.util.UUID.randomUUID().toString
      val dataDir = new Path(root, s"data/$uuid")
      readVersion(spark, table, curV).repartition(nFiles)
        .write.mode("errorifexists").parquet(dataDir.toString)
      val schema = DataType.fromJson(parent.schemaJson)
        .asInstanceOf[StructType]
      val onDisk = spark.read.schema(schema).parquet(dataDir.toString)
      val newFiles = fileLineage(onDisk)
      // Content equality in the table-schema view (per-file manifest
      // checksums can't be summed across schema evolution — older files
      // were sealed over narrower column sets).
      def total(df: DataFrame): (Long, BigInt) = {
        val r = df.agg(count(lit(1)),
          sum(xxhash64(schema.fieldNames.map(col): _*)
            .cast("decimal(38,0)"))).head()
        (r.getLong(0),
          Option(r.getDecimal(1)).map(d => BigInt(d.toBigInteger))
            .getOrElse(BigInt(0)))
      }
      require(total(onDisk) == total(readVersion(spark, table, curV)),
        s"compaction of $table v$curV changed the content — refusing " +
          "to publish (rewrite kept at " + dataDir + " for inspection)")

      val m = Manifest(curV + 1, curV, "compact", parent.schemaJson,
        newFiles, parent.rows,
        carryStreamMark(Some(parent),
          Map("compactedFiles" -> parent.files.size.toString,
            "intoFiles" -> newFiles.size.toString)),
        System.currentTimeMillis())
      if (tryPublish(f, root, m)) return m.version
      // A writer advanced the table mid-rewrite: our rewrite is stale.
      // Drop it and redo against the new current snapshot.
      f.delete(dataDir, true)
      attempt += 1
      require(attempt < MaxCommitAttempts,
        s"gave up after $attempt conflicting compactions on $table")
    }
    -1 // unreachable
  }

  /** Copy-on-write upsert (Iceberg MERGE-shaped): `df` rows REPLACE
    * same-key rows and new keys are inserted, in one snapshot. Only the
    * data files whose manifest stats might contain an incoming key are
    * rewritten — every other file carries over untouched (pure
    * metadata), so on a key-clustered 100 TB table a point-fix rewrites
    * one file, not the table. `df` must be unique on `keyCols` (checked;
    * null keys never match existing rows — SQL join semantics — so they
    * are pure inserts and must themselves be unique). Schema must match
    * the table's exactly. */
  def upsert(df: DataFrame, table: String, keyCols: Seq[String],
      summary: Map[String, String] = Map.empty): Int = {
    require(keyCols.nonEmpty, "need at least one key column")
    val spark = df.sparkSession
    val root = new Path(table)
    val f = fileSystem(spark, root)
    val dfc = df.localCheckpoint(true)
    require(dfc.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("n"))
      .where(col("n") > 1).isEmpty,
      s"upsert rows must be unique on $keyCols")
    // Size-gate the key broadcast (same posture as graph/Strategy): a
    // bulk MERGE's key set can be arbitrarily large — above the gate the
    // anti-join shuffles instead of collecting every key to the driver.
    val nDelta = dfc.count()
    val broadcastKeys = nDelta <= 4L * 1000 * 1000
    val curV0 = currentVersionOpt(spark, table).getOrElse(
      throw new IllegalStateException(s"no table at $table"))
    if (nDelta == 0L) return curV0

    var attempt = 0
    while (true) {
      val curV = currentVersionOpt(spark, table).get
      val parent = manifest(spark, table, curV)
      // strict schema check (reuses the no-evolution path)
      evolveSchema(parent.schemaJson, dfc.schema.json,
        mergeSchema = false, table)
      val schema = DataType.fromJson(parent.schemaJson)
        .asInstanceOf[StructType]
      val types = schema.fields.map(fd => fd.name -> fd.dataType).toMap
      // Incoming key bounds, one agg — the driver-side pruning predicate.
      val boundExprs = keyCols.zipWithIndex.flatMap { case (c, i) =>
        Seq(min(col(c)).as(s"mn$i"), max(col(c)).as(s"mx$i"))
      }
      val b = dfc.agg(boundExprs.head, boundExprs.tail: _*).head()
      val keyFilters: Seq[Filter] = keyCols.zipWithIndex.flatMap {
        case (c, i) =>
          val (mn, mx) = (b.get(2 * i), b.get(2 * i + 1))
          if (mn == null || mx == null) Nil // all-null keys: pure inserts
          else Seq(And(GreaterThanOrEqual(c, mn), LessThanOrEqual(c, mx)))
      }
      val (touched, untouched) = parent.files.partition(fl =>
        keyFilters.nonEmpty && keyFilters.forall(mightMatch(_, fl, types)))

      val uuid = java.util.UUID.randomUUID().toString
      val dataDir = new Path(root, s"data/$uuid")
      val survivors =
        if (touched.isEmpty)
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
        else {
          val keys = dfc.select(keyCols.map(col): _*)
          spark.read.schema(schema)
            .parquet(touched.map(fl =>
              new Path(root, fl.path).toString): _*)
            .join(if (broadcastKeys) broadcast(keys) else keys,
              keyCols, "left_anti")
        }
      survivors.select(schema.fieldNames.map(col): _*)
        .unionByName(dfc.select(schema.fieldNames.map(col): _*))
        .write.mode("errorifexists").parquet(dataDir.toString)
      val newFiles =
        fileLineage(spark.read.schema(schema).parquet(dataDir.toString))
      val files = untouched ++ newFiles
      val m = Manifest(curV + 1, curV, "upsert", parent.schemaJson,
        files, files.map(_.rows).sum,
        carryStreamMark(Some(parent),
          summary ++ Map("rewrittenFiles" -> touched.size.toString,
            "carriedFiles" -> untouched.size.toString)),
        System.currentTimeMillis())
      if (tryPublish(f, root, m)) return m.version
      // A writer advanced the table mid-rewrite: redo against the new
      // current snapshot.
      f.delete(dataDir, true)
      attempt += 1
      require(attempt < MaxCommitAttempts,
        s"gave up after $attempt conflicting upserts on $table")
    }
    -1 // unreachable
  }

  /** Copy-on-write DELETE of the rows matching `filters` (conjunction,
    * the same pushdown vocabulary as [[scan]]). Only data files whose
    * stats might contain a match are rewritten with those rows removed;
    * every other file carries over by path. Returns the new version, or
    * the current one when the stats prove nothing matches. Refuses an
    * empty filter list (use [[overwrite]] to empty a table on purpose). */
  def delete(spark: SparkSession, table: String, filters: Seq[Filter],
      summary: Map[String, String] = Map.empty): Int = {
    require(filters.nonEmpty,
      "refusing an unfiltered delete; use overwrite to empty a table")
    val root = new Path(table)
    val f = fileSystem(spark, root)
    var attempt = 0
    while (true) {
      val curV = currentVersionOpt(spark, table).getOrElse(
        throw new IllegalStateException(s"no table at $table"))
      val parent = manifest(spark, table, curV)
      val schema = DataType.fromJson(parent.schemaJson)
        .asInstanceOf[StructType]
      val types = schema.fields.map(fd => fd.name -> fd.dataType).toMap
      val (touched, untouched) = parent.files.partition(fl =>
        filters.forall(mightMatch(_, fl, types)))
      if (touched.isEmpty) return curV // stats prove nothing matches

      val uuid = java.util.UUID.randomUUID().toString
      val dataDir = new Path(root, s"data/$uuid")
      // survivors = rows where the predicate is FALSE **or NULL** — SQL
      // DELETE only removes rows the predicate affirms, and a bare
      // where(!pred) would silently drop NULL-predicate rows (and do so
      // only in files the stats happened to touch)
      spark.read.schema(schema)
        .parquet(touched.map(fl => new Path(root, fl.path).toString): _*)
        .where(!coalesce(filters.map(toColumn).reduce(_ && _),
          lit(false)))
        .write.mode("errorifexists").parquet(dataDir.toString)
      val newFiles =
        fileLineage(spark.read.schema(schema).parquet(dataDir.toString))
      val files = untouched ++ newFiles
      val total = files.map(_.rows).sum
      val m = Manifest(curV + 1, curV, "delete", parent.schemaJson,
        files, total,
        carryStreamMark(Some(parent),
          summary ++ Map("rewrittenFiles" -> touched.size.toString,
            "carriedFiles" -> untouched.size.toString,
            "deletedRows" -> (parent.rows - total).toString)),
        System.currentTimeMillis())
      if (tryPublish(f, root, m)) return m.version
      f.delete(dataDir, true)
      attempt += 1
      require(attempt < MaxCommitAttempts,
        s"gave up after $attempt conflicting deletes on $table")
    }
    -1 // unreachable
  }

  /** Signals that a [[appendBatch]] lost its race: a concurrent writer
    * already committed the same (or a newer) stream batch id. */
  private[graft] final class BatchAlreadyCommitted(val batchId: Long)
    extends RuntimeException(s"stream batch $batchId already committed")

  /** Exactly-once streaming append: commits `df` under `streamBatch` id
    * `batchId`, gated ATOMICALLY on the table's carried high-water mark.
    * The gate re-evaluates against the freshly-read parent inside the
    * optimistic publish loop (every commit carries the mark forward, so
    * the parent is authoritative): of two racing committers of the same
    * batch, the loser's retry reads a parent that already carries the
    * id and returns false — the check-then-append race a caller-side
    * ledger read cannot close. Creates the table when absent. */
  def appendBatch(df: DataFrame, table: String, batchId: Long): Boolean =
    try {
      val spark = df.sparkSession
      val summary = Map("streamBatch" -> batchId.toString)
      val gate = Some(batchId)
      if (currentVersionOpt(spark, table).isEmpty)
        try commit(df, table, "create", summary, streamBatchGate = gate)
        catch {
          // lost the CREATE race: the table exists now — append, gated
          case e: IllegalArgumentException
              if e.getMessage.contains("already exists") =>
            commit(df, table, "append", summary, streamBatchGate = gate)
        }
      else commit(df, table, "append", summary, streamBatchGate = gate)
      true
    } catch { case _: BatchAlreadyCommitted => false }

  private def commit(df: DataFrame, table: String, op: String,
      summary: Map[String, String], mergeSchema: Boolean = false,
      streamBatchGate: Option[Long] = None): Int = {
    val spark = df.sparkSession
    val root = new Path(table)
    val f = fileSystem(spark, root)

    // 1. Write the data files under a fresh uuid dir (invisible to every
    //    reader until a manifest references them).
    val uuid = java.util.UUID.randomUUID().toString
    val dataDir = new Path(root, s"data/$uuid")
    df.write.mode("errorifexists").parquet(dataDir.toString)

    try {
      // 2. Lineage of what landed on disk (one agg row per file).
      val onDisk = spark.read.parquet(dataDir.toString)
      val newFiles = fileLineage(onDisk)
      val schemaJson = onDisk.schema.json

      // 3. Optimistic-concurrency manifest publication.
      var attempt = 0
      while (true) {
        val curV = currentVersionOpt(spark, table)
        val parent = curV.map(v => manifest(spark, table, v))
        // Atomic exactly-once gate ([[appendBatch]]): re-checked against
        // the freshly-read parent on EVERY publish attempt, so a racing
        // same-batch committer cannot slip through between a caller-side
        // ledger read and the commit.
        streamBatchGate.foreach { b =>
          if (parent.flatMap(_.summary.get("streamBatch"))
              .exists(_.toLong >= b))
            throw new BatchAlreadyCommitted(b)
        }
        val manifestSchema = op match {
          case "create" =>
            require(parent.isEmpty, s"table $table already exists " +
              s"(version ${curV.get}); use append/overwrite")
            schemaJson
          case "append" =>
            val p = parent.getOrElse(throw new IllegalStateException(
              s"cannot append: no table at $table"))
            evolveSchema(p.schemaJson, schemaJson, mergeSchema, table)
          case _ => schemaJson // overwrite creates or replaces
        }
        val files = parent match {
          case Some(p) if op == "append" => p.files ++ newFiles
          case _ => newFiles
        }
        val m = Manifest(curV.getOrElse(0) + 1, curV.getOrElse(-1), op,
          manifestSchema, files, files.map(_.rows).sum,
          carryStreamMark(parent, summary),
          System.currentTimeMillis())
        if (tryPublish(f, root, m)) return m.version
        attempt += 1
        require(attempt < MaxCommitAttempts,
          s"gave up after $attempt conflicting commits on $table")
      }
      -1 // unreachable
    } catch {
      // The uuid dir is referenced by no manifest — on ANY failed commit
      // (a lost BatchAlreadyCommitted gate, a create/schema conflict,
      // publish-attempt exhaustion) delete it, matching the
      // upsert/delete/compact retry paths; without this every replayed
      // stream batch that loses the gate leaves an orphan directory
      // until a manual vacuum.
      case e: Throwable =>
        try f.delete(dataDir, true)
        catch { case _: Throwable => () }
        throw e
    }
  }

  /** Longest rendered min/max value retained as a file stat. Unlike
    * Iceberg we never truncate (a truncated upper bound is not an upper
    * bound) — an over-long value just drops the file's bounds for that
    * column. */
  private val MaxStatLen = 64

  /** Columns whose min/max render to strings that [[cmp]] can order. */
  private def statableCols(schema: StructType): Seq[StructField] =
    schema.fields.toSeq.filter(f => f.dataType match {
      case _: NumericType | StringType | BooleanType | DateType |
          TimestampType => true
      case _ => false
    })

  /** Per-file (rows, content checksum, per-column min/max/null stats) of
    * a just-written commit dir — ONE distributed agg, returns one row per
    * file, never data rows. The checksum is the sum of per-row xxhash64
    * in DECIMAL(38,0) (order-independent, ANSI-overflow-safe — the
    * contract [[validate]] re-derives on every superstep resume in
    * graft.pregel.Iterate). */
  private def fileLineage(onDisk: DataFrame): Seq[FileLineage] = {
    val cols = onDisk.columns.map(col)
    val statCols = statableCols(onDisk.schema)
    val statExprs = statCols.zipWithIndex.flatMap { case (f, i) =>
      val base = col(f.name)
      // Timestamps are recorded as epoch MICROS, not cast(string):
      // the string rendering depends on spark.sql.session.timeZone and
      // would mis-order against instant literals under a session/JVM
      // zone mismatch (silent wrong pruning). Micros are zone-free.
      val c = f.dataType match {
        case TimestampType => unix_micros(base)
        case _ => base
      }
      Seq(min(c).cast("string").as(s"_mn$i"),
        max(c).cast("string").as(s"_mx$i"),
        sum(when(base.isNull, 1L).otherwise(0L)).as(s"_nn$i"))
    }
    // Bloom bit positions per bloomable column: BloomK collect_set aggs
    // of pmod(xxhash64(render(value), seed), BloomBits) — each set is
    // bounded by BloomBits ints regardless of row count (collect_set
    // dedups during partial aggregation), so driver memory stays
    // O(files * BloomBits).
    val bloomCols = statCols.filter(f => bloomable(f.dataType))
    val bloomExprs = bloomCols.zipWithIndex.flatMap { case (f, i) =>
      val rendered = f.dataType match {
        case StringType => col(f.name)
        case _ => col(f.name).cast("string")
      }
      (0 until BloomK).map { seed =>
        collect_set(when(col(f.name).isNotNull,
          pmod(xxhash64(rendered, lit(seed)), lit(BloomBits))
            .cast("int"))).as(s"_bl${i}_$seed")
      }
    }
    val aggExprs =
      sum(xxhash64(cols: _*).cast("decimal(38,0)")).as("checksum") +:
        (statExprs ++ bloomExprs)
    val bloomBase = 3 + statCols.size * 3
    val bloomIdx = bloomCols.map(_.name).zipWithIndex.toMap
    onDisk
      .groupBy(input_file_name().as("f"))
      .agg(count(lit(1)).as("rows"), aggExprs: _*)
      .collect()
      .toSeq
      .map { r =>
        val stats = statCols.zipWithIndex.map { case (f, i) =>
          val base = 3 + i * 3
          def v(j: Int): Option[String] =
            if (r.isNullAt(j)) None else Some(r.getString(j))
          val (mn, mx) = (v(base), v(base + 1))
          val keep = mn.forall(_.length <= MaxStatLen) &&
            mx.forall(_.length <= MaxStatLen)
          val bloom = bloomIdx.get(f.name).map { bi =>
            val bits = new java.util.BitSet(BloomBits)
            (0 until BloomK).foreach { seed =>
              r.getSeq[Int](bloomBase + bi * BloomK + seed)
                .foreach(bits.set)
            }
            java.util.Base64.getEncoder.encodeToString(bits.toByteArray)
          }
          ColStat(f.name, if (keep) mn else None, if (keep) mx else None,
            r.getLong(base + 2), bloom)
        }
        FileLineage(relativize(r.getString(0)), r.getLong(1),
          r.getDecimal(2).toBigInteger.toString, Some(stats),
          Some(onDisk.columns.toSeq))
      }
      .sortBy(_.path)
  }

  /** table-root-relative path of a data-file URI. Every data file lives
    * at <root>/data/<uuid>/<name> and the uuid cannot contain "/data/",
    * so the LAST occurrence is ours even when the table path itself
    * contains a /data/ segment. */
  private def relativize(fileUri: String): String = {
    val i = fileUri.lastIndexOf("/data/")
    require(i >= 0, s"not a table data file: $fileUri")
    fileUri.substring(i + 1)
  }

  /** Atomic put-if-absent of the manifest: write a hidden tmp file, then
    * publish. POSIX: hard-link create (atomic, fails when the target
    * exists). HDFS-likes: rename, which fails when the destination
    * exists (HDFS contract) — the loser of a race sees `false` and
    * retries with a re-read current version. The read-back confirmation
    * is best-effort defense for stores whose rename CAN overwrite: it
    * catches the common loser-lands-second case but is NOT a full
    * guard (a loser overwriting after the winner's read-back is
    * undetectable here — exactly why Iceberg requires an atomic
    * swap primitive per store; on such stores run a single committer
    * or front this with a lock service). */
  private def tryPublish(f: FileSystem, root: Path, m: Manifest): Boolean = {
    val metaDir = new Path(root, "metadata")
    f.mkdirs(metaDir)
    val bytes = Serialization.write(m).getBytes(UTF_8)
    val tmp = new Path(metaDir,
      s".tmp-${m.version}-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, true)
    try out.write(bytes)
    finally out.close()
    val target = manifestPath(root, m.version)
    val published =
      if (f.getScheme == "file") {
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(target.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      } else {
        val renamed =
          if (f.exists(target)) false
          else {
            try f.rename(tmp, target)
            catch { case _: java.io.IOException => false }
          }
        renamed && {
          val in = f.open(target)
          val got = try in.readAllBytes() finally in.close()
          java.util.Arrays.equals(got, bytes)
        }
      }
    f.delete(tmp, false)
    published
  }

  /** The table schema after appending data of `dfJson`. Without
    * `mergeSchema` the schemas must match exactly (name + type, in
    * order). With it: shared columns must agree on type, new df columns
    * are appended to the table schema as nullable (older files read
    * them as null — Spark's parquet reader fills requested-but-absent
    * columns), and df may omit table columns (its files read them as
    * null the same way). */
  private def evolveSchema(tableJson: String, dfJson: String,
      mergeSchema: Boolean, table: String): String = {
    def st(j: String) = DataType.fromJson(j).asInstanceOf[StructType]
    val (ts, ds) = (st(tableJson), st(dfJson))
    if (!mergeSchema) {
      def key(s: StructType) = s.fields.toSeq.map(f => (f.name, f.dataType.sql))
      require(key(ts) == key(ds),
        s"append schema mismatch on $table:\n  table: ${key(ts)}" +
          s"\n  data:  ${key(ds)}\n  (pass mergeSchema = true to evolve)")
      tableJson
    } else {
      val tTypes = ts.fields.map(f => f.name -> f.dataType.sql).toMap
      ds.fields.foreach { f =>
        tTypes.get(f.name).foreach(t => require(t == f.dataType.sql,
          s"schema evolution type conflict on '${f.name}' in $table: " +
            s"table $t vs data ${f.dataType.sql}"))
      }
      val newCols = ds.fields.filterNot(f => tTypes.contains(f.name))
      StructType((ts.fields ++ newCols).map(_.copy(nullable = true))).json
    }
  }

  // ----------------------------------------------------------------- read

  /** Current snapshot. Plans exactly the manifest's file list — no
    * directory listing, uncommitted data invisible. */
  def read(spark: SparkSession, table: String): DataFrame =
    readVersion(spark, table, currentVersionOpt(spark, table).getOrElse(
      throw new IllegalStateException(s"no table at $table")))

  /** Time travel to any retained snapshot. */
  def readVersion(spark: SparkSession, table: String, version: Int)
      : DataFrame = {
    val m = manifest(spark, table, version)
    val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    if (m.files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], schema)
    else {
      val root = new Path(table)
      val paths = m.files.map(fl => new Path(root, fl.path).toString)
      spark.read.schema(schema).parquet(paths: _*)
    }
  }

  /** Manifest-level scan planning (Iceberg's headline read-side win at
    * 100 TB): keep only the data files whose per-column min/max/null
    * stats MIGHT satisfy `filters` (conjunction), then read exactly that
    * file list and apply the filters precisely. Files a predicate rules
    * out are never planned — no footer read, no task, no row-group
    * machinery; on a date- or key-clustered 100 TB table a point/range
    * query touches a handful of files instead of all of them.
    *
    * `filters` uses the standard `org.apache.spark.sql.sources.Filter`
    * pushdown vocabulary. Unknown filter shapes, unknown columns, and
    * files without stats are conservatively kept — pruning is always
    * sound, results are always exact. */
  def scan(spark: SparkSession, table: String, filters: Seq[Filter],
      version: Int = -1): DataFrame = {
    val v = if (version > 0) version
      else currentVersionOpt(spark, table).getOrElse(
        throw new IllegalStateException(s"no table at $table"))
    val m = manifest(spark, table, v)
    val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    val kept = m.files.filter(fl => filters.forall(mightMatch(_, fl, types)))
    val root = new Path(table)
    val df =
      if (kept.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      else spark.read.schema(schema)
        .parquet(kept.map(fl => new Path(root, fl.path).toString): _*)
    filters.foldLeft(df)((d, f) => d.filter(toColumn(f)))
  }

  /** Rows added between `fromVersion` (exclusive) and `toVersion`
    * (inclusive) — plans only the data files appended in that range, so
    * an incremental consumer re-reads nothing it has seen. Every commit
    * in the range must be an append: an overwrite/rollback changelog is
    * not representable as add-only, and silently returning its file diff
    * would drop the retraction. */
  def readIncremental(spark: SparkSession, table: String, fromVersion: Int,
      toVersion: Int = -1): DataFrame = {
    val to = if (toVersion > 0) toVersion
      else currentVersionOpt(spark, table).getOrElse(
        throw new IllegalStateException(s"no table at $table"))
    require(fromVersion >= 1 && to >= fromVersion,
      s"need 1 <= fromVersion <= toVersion, got $fromVersion..$to")
    val mTo = manifest(spark, table, to)
    val schema = DataType.fromJson(mTo.schemaJson).asInstanceOf[StructType]
    ((fromVersion + 1) to to).foreach { v =>
      val op = manifest(spark, table, v).operation
      require(op == "append",
        s"cannot read incrementally across '$op' at v$v of $table: " +
          "only append commits are add-only")
    }
    val base = manifest(spark, table, fromVersion).files.map(_.path).toSet
    val added = mTo.files.filterNot(fl => base(fl.path))
    if (added.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else {
      val root = new Path(table)
      spark.read.schema(schema)
        .parquet(added.map(fl => new Path(root, fl.path).toString): _*)
    }
  }

  /** Change-data-capture between two snapshots, from the manifest file
    * diff alone: rows in files added between `fromVersion` (exclusive)
    * and `toVersion` (inclusive) are inserts, rows in files removed are
    * deletes — NETTED as multisets (null-safe, full-row), so an upsert
    * emits delete(old)+insert(new) for changed keys only, and
    * content-preserving maintenance (compaction) emits nothing. Works
    * across every commit kind, unlike the add-only [[readIncremental]].
    *
    * @return one row per distinct changed row-value, with
    *         `_change_type` ('insert'/'delete') and `_count` columns */
  def readChanges(spark: SparkSession, table: String, fromVersion: Int,
      toVersion: Int = -1): DataFrame = {
    val to = if (toVersion > 0) toVersion
      else currentVersionOpt(spark, table).getOrElse(
        throw new IllegalStateException(s"no table at $table"))
    require(fromVersion >= 1 && to >= fromVersion,
      s"need 1 <= fromVersion <= toVersion, got $fromVersion..$to")
    val mFrom = manifest(spark, table, fromVersion)
    val mTo = manifest(spark, table, to)
    // read both sides in the newer schema — sound only when the older
    // schema is a prefix/subset of it (append evolution widens; an
    // overwrite can replace the schema arbitrarily, and diffing across
    // that would mis-project the delete side): refuse loudly instead.
    def key(j: String) = DataType.fromJson(j).asInstanceOf[StructType]
      .fields.map(f => (f.name, f.dataType.sql)).toSet
    require(key(mFrom.schemaJson).subsetOf(key(mTo.schemaJson)),
      s"cannot diff $table v$fromVersion..v$to: v$fromVersion's schema " +
        "is not a subset of the newer one (incompatible overwrite in " +
        "the range)")
    val schema = DataType.fromJson(mTo.schemaJson).asInstanceOf[StructType]
    val root = new Path(table)
    def rd(fs: Seq[FileLineage]): DataFrame =
      if (fs.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      else spark.read.schema(schema)
        .parquet(fs.map(fl => new Path(root, fl.path).toString): _*)
    val fromPaths = mFrom.files.map(_.path).toSet
    val toPaths = mTo.files.map(_.path).toSet
    val ins = rd(mTo.files.filterNot(fl => fromPaths(fl.path)))
    val del = rd(mFrom.files.filterNot(fl => toPaths(fl.path)))

    val cols = schema.fieldNames.toSeq
    val i = ins.groupBy(cols.map(col): _*)
      .agg(count(lit(1)).as("_i")).alias("i")
    val d = del.groupBy(cols.map(col): _*)
      .agg(count(lit(1)).as("_d")).alias("d")
    // null-safe full-row join so null-bearing rows net correctly
    val cond = cols.map(c => col(s"i.$c") <=> col(s"d.$c"))
      .reduce(_ && _)
    i.join(d, cond, "full")
      .select(cols.map(c => coalesce(col(s"i.$c"), col(s"d.$c")).as(c)) ++
        Seq((coalesce(col("_i"), lit(0L)) - coalesce(col("_d"), lit(0L)))
          .as("_net")): _*)
      .where(col("_net") =!= 0)
      .select(cols.map(col) ++ Seq(
        when(col("_net") > 0, lit("insert")).otherwise(lit("delete"))
          .as("_change_type"),
        abs(col("_net")).as("_count")): _*)
  }

  /** All retained snapshots, oldest first. */
  def snapshots(spark: SparkSession, table: String): Seq[Manifest] =
    listVersions(spark, table).map(v => manifest(spark, table, v))

  def currentVersionOpt(spark: SparkSession, table: String): Option[Int] = {
    val vs = listVersions(spark, table)
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** The retained (non-expired) version numbers, ascending; empty when
    * the table does not exist. One metadata LIST, no manifest reads. */
  def retainedVersions(spark: SparkSession, table: String): Seq[Int] =
    listVersions(spark, table)

  def manifest(spark: SparkSession, table: String, version: Int): Manifest = {
    val root = new Path(table)
    val f = fileSystem(spark, root)
    val p = manifestPath(root, version)
    require(f.exists(p), s"no snapshot v$version at $table (expired?)")
    val in = f.open(p)
    val bytes = try in.readAllBytes() finally in.close()
    Serialization.read[Manifest](new String(bytes, UTF_8))
  }

  /** Re-derive every file's (rows, checksum) of a snapshot and compare
    * with its manifest lineage — refuses silently-corrupted or truncated
    * data; graft.pregel.Iterate runs it before resuming from a superstep
    * checkpoint. */
  def validate(spark: SparkSession, table: String, version: Int): Unit = {
    val m = manifest(spark, table, version)
    if (m.files.isEmpty) return
    val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    val root = new Path(table)
    // Each file's checksum covers ITS OWN sealed column set (schema
    // evolution can widen the table schema later), so re-derive per
    // column-set group, projecting the snapshot read down to the
    // group's columns. Compare content lineage only (not min/max stats:
    // a pruning aid, absent on pre-stats manifests — drift they could
    // reveal is already caught by the checksum).
    def key(fs: Seq[FileLineage]) =
      fs.map(f => (f.path, f.rows, f.checksum)).toSet
    m.files.groupBy(_.cols.getOrElse(schema.fieldNames.toSeq)).foreach {
      case (cols, group) =>
        val df = spark.read.schema(schema)
          .parquet(group.map(fl => new Path(root, fl.path).toString): _*)
          .select(cols.map(col): _*)
        val got = key(fileLineage(df))
        val want = key(group)
        require(got == want,
          s"snapshot v$version of $table contradicts its lineage:\n" +
            s"  manifest: ${want.toSeq.sortBy(_._1)}\n" +
            s"  on disk:  ${got.toSeq.sortBy(_._1)}")
    }
  }

  // ---------------------------------------------------------- maintenance

  /** Drop all but the newest `keepLast` snapshots: their manifests are
    * deleted and any data directory referenced ONLY by dropped snapshots
    * is removed. Returns (#manifests, #dataDirs) removed.
    *
    * Single-maintainer operation, like [[vacuum]]: keptDirs comes from a
    * point-in-time listing, so a CONCURRENT rollback/compact could
    * publish a new retained snapshot referencing a directory this call
    * is about to delete (an expire racing a plain create/append/
    * overwrite/upsert commit is safe — an in-flight commit's uuid dir is
    * referenced by no manifest and expire never touches unreferenced
    * dirs; a racing READER of a dropped version merely fails loudly).
    * Run expire from the same maintenance process as rollback/compact,
    * or front them with a lock. */
  def expire(spark: SparkSession, table: String, keepLast: Int)
      : (Int, Int) = {
    require(keepLast >= 1, "must retain at least the current snapshot")
    val root = new Path(table)
    val f = fileSystem(spark, root)
    val vs = listVersions(spark, table)
    val dropped = vs.dropRight(keepLast)
    if (dropped.isEmpty) return (0, 0)
    val keptDirs = vs.takeRight(keepLast)
      .flatMap(v => manifest(spark, table, v).files.map(dataDirOf))
      .toSet
    val droppedDirs = dropped
      .flatMap(v => manifest(spark, table, v).files.map(dataDirOf))
      .toSet -- keptDirs
    droppedDirs.foreach(d => f.delete(new Path(root, d), true))
    dropped.foreach(v => f.delete(manifestPath(root, v), false))
    (dropped.size, droppedDirs.size)
  }

  /** Delete data directories referenced by NO retained snapshot —
    * leftovers of failed/abandoned writes. Single-maintainer operation
    * (a concurrent writer's not-yet-committed directory would be
    * collected; same caveat as Iceberg's remove_orphan_files). Returns
    * the number of directories removed. */
  def vacuum(spark: SparkSession, table: String): Int = {
    val root = new Path(table)
    val f = fileSystem(spark, root)
    val referenced = snapshots(spark, table)
      .flatMap(_.files.map(dataDirOf)).toSet
    val dataRoot = new Path(root, "data")
    if (!f.exists(dataRoot)) return 0
    val onDisk = f.listStatus(dataRoot).toSeq
      .filter(_.isDirectory)
      .map(s => s"data/${s.getPath.getName}")
    val orphans = onDisk.filterNot(referenced)
    orphans.foreach(d => f.delete(new Path(root, d), true))
    orphans.size
  }

  /** The streaming high-water mark (`streamBatch`, written by
    * graft.streaming.StreamIngest) is table-level watermark metadata:
    * every child commit inherits it unless it sets its own, so
    * maintenance (compact/upsert/delete) and interleaved plain appends
    * never regress the exactly-once ledger — even after [[expire]]
    * drops the original stream commits. */
  private def carryStreamMark(parent: Option[Manifest],
      summary: Map[String, String]): Map[String, String] =
    if (summary.contains("streamBatch")) summary
    else summary ++ parent.flatMap(_.summary.get("streamBatch"))
      .map("streamBatch" -> _)

  // ----------------------------------------------------- stats evaluation

  /** UTF-8 bytes of `s`, refusing unpaired surrogates (getBytes folds
    * them to '?', which would corrupt the ordering — the throw makes
    * [[mightMatch]] keep the file). Paired surrogates encode fine. */
  private def utf8Bytes(s: String): Array[Byte] = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isHighSurrogate(c)) {
        require(i + 1 < s.length && Character.isLowSurrogate(s.charAt(i + 1)),
          s"unpaired surrogate in stat/literal value")
        i += 1
      } else require(!Character.isLowSurrogate(c),
        s"unpaired surrogate in stat/literal value")
      i += 1
    }
    s.getBytes(UTF_8)
  }

  private def byteCmp(x: Array[Byte], y: Array[Byte]): Int = {
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  /** Binary UTF-8 string order — the order Spark's min/max aggregates
    * compute for StringType (UTF8String compares unsigned UTF-8 bytes,
    * which equals code-point order). Java's String.compareTo orders by
    * UTF-16 code UNITS instead, and the two disagree whenever
    * supplementary-plane chars (emoji) meet values in U+E000..U+FFFF —
    * compared that way, [[scan]] could prune a file that contains
    * matches and upsert/delete could skip a file they must rewrite. */
  private def utf8Cmp(a: String, b: String): Int =
    byteCmp(utf8Bytes(a), utf8Bytes(b))

  /** The literal's [[BloomK]] bit positions — the driver-side eval of
    * the EXACT expression the write side aggregated distributed
    * (`pmod(xxhash64(rendered, seed), BloomBits)`), so write and read
    * hashes can never drift. */
  private def bloomPositions(rendered: String): Seq[Int] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    (0 until BloomK).map { seed =>
      val h = new XxHash64(Seq(
        Literal(org.apache.spark.unsafe.types.UTF8String
          .fromString(rendered), StringType),
        Literal(seed))).eval(null).asInstanceOf[Long]
      val m = (h % BloomBits).toInt
      if (m < 0) m + BloomBits else m
    }
  }

  /** Could the file contain a row equal to `v` according to its bloom?
    * True (keep) when no bloom exists, the type is not bloomable, or
    * every probe bit is set. The rendering mirrors the write side:
    * integral toString == cast(string); strings hash their own bytes. */
  private def bloomMaybe(s: ColStat, dt: DataType, v: Any): Boolean =
    s.bloom match {
      case Some(b64) if bloomable(dt) && v != null =>
        val bits = java.util.BitSet.valueOf(
          java.util.Base64.getDecoder.decode(b64))
        bloomPositions(v.toString).forall(bits.get)
      case _ => true
    }

  /** Orders a stat's rendered value against a filter literal through the
    * column's type. Stats exist only for [[statableCols]] types. Throws
    * on anything it cannot order soundly — [[mightMatch]] folds that to
    * "keep the file". */
  private def cmp(dt: DataType, statVal: String, litVal: Any): Int =
    dt match {
      case _: NumericType =>
        new java.math.BigDecimal(statVal)
          .compareTo(new java.math.BigDecimal(litVal.toString))
      case BooleanType =>
        java.lang.Boolean.compare(statVal.toBoolean,
          litVal.toString.toBoolean)
      // Timestamp stats are epoch micros (see fileLineage) — zone-free
      // instant compare. Legacy manifests rendered wall-clock strings
      // instead; those fail the numeric parse and the file is kept
      // (sound). String/LocalDateTime literals are wall-clock and
      // zone-ambiguous: throw -> keep.
      case TimestampType =>
        def micros(sec: Long, nano: Int) = sec * 1000000L + nano / 1000
        val sv = new java.math.BigDecimal(statVal)
        val lv = litVal match {
          case t: java.sql.Timestamp =>
            val i = t.toInstant
            java.math.BigDecimal.valueOf(micros(i.getEpochSecond, i.getNano))
          case i: java.time.Instant =>
            java.math.BigDecimal.valueOf(micros(i.getEpochSecond, i.getNano))
          case other => throw new IllegalArgumentException(
            s"zone-ambiguous timestamp literal: ${other.getClass}")
        }
        sv.compareTo(lv)
      // StringType compares in binary UTF-8 order (what the write-side
      // min/max computed); Date cast(string) renders ISO "2024-01-02"
      // and java.sql.Date/LocalDate literals render the same — ASCII, so
      // byte order IS chronological order.
      case _ => utf8Cmp(statVal, litVal.toString)
    }

  /** Could any row of the file satisfy `f`? Three-valued logic folded to
    * "keep unless provably impossible": None bounds, unknown columns,
    * unknown filter shapes — and any literal the comparator cannot order
    * (NaN, unparseable renderings) — all answer true: pruning must never
    * throw and never drop a maybe. */
  private def mightMatch(f: Filter, fl: FileLineage,
      types: Map[String, DataType]): Boolean =
    try mightMatchUnsafe(f, fl, types)
    catch { case scala.util.control.NonFatal(_) => true }

  private def mightMatchUnsafe(f: Filter, fl: FileLineage,
      types: Map[String, DataType]): Boolean = fl.stats match {
    case None => true
    case Some(st) =>
      val byName = st.map(s => s.name -> s).toMap
      // inRange(a, v): some row of column a could equal v
      def withStat(a: String)(p: ColStat => Boolean): Boolean =
        (byName.get(a), types.get(a)) match {
          case (Some(s), Some(_)) => p(s)
          case _ => true
        }
      def allNull(s: ColStat) = s.nulls == fl.rows
      def cmpB(a: String, b: Option[String], v: Any): Option[Int] =
        b.map(x => cmp(types(a), x, v))
      f match {
        case And(l, r) => mightMatch(l, fl, types) && mightMatch(r, fl, types)
        case Or(l, r) => mightMatch(l, fl, types) || mightMatch(r, fl, types)
        case EqualTo(a, null) =>
          // SQL `= NULL` matches nothing, but translations vary — the
          // only rows it could touch are null ones.
          withStat(a)(_.nulls > 0)
        case EqualTo(a, v) => withStat(a) { s =>
          !allNull(s) &&
            cmpB(a, s.min, v).forall(_ <= 0) &&
            cmpB(a, s.max, v).forall(_ >= 0) &&
            bloomMaybe(s, types(a), v)
        }
        case EqualNullSafe(a, null) => withStat(a)(_.nulls > 0)
        case EqualNullSafe(a, v) => mightMatch(EqualTo(a, v), fl, types)
        case In(a, vs) => withStat(a) { s =>
          (vs.contains(null) && s.nulls > 0) ||
            (!allNull(s) && vs.filter(_ != null).exists(v =>
              cmpB(a, s.min, v).forall(_ <= 0) &&
                cmpB(a, s.max, v).forall(_ >= 0) &&
                bloomMaybe(s, types(a), v)))
        }
        case GreaterThan(a, v) =>
          withStat(a)(s => cmpB(a, s.max, v).forall(_ > 0))
        case GreaterThanOrEqual(a, v) =>
          withStat(a)(s => cmpB(a, s.max, v).forall(_ >= 0))
        case LessThan(a, v) =>
          withStat(a)(s => cmpB(a, s.min, v).forall(_ < 0))
        case LessThanOrEqual(a, v) =>
          withStat(a)(s => cmpB(a, s.min, v).forall(_ <= 0))
        case IsNull(a) => withStat(a)(_.nulls > 0)
        case IsNotNull(a) => withStat(a)(s => !allNull(s))
        case StringStartsWith(a, p) => withStat(a) { s =>
          // Byte-space prefix check (see utf8Cmp): any row starting with
          // p satisfies min <= row and row's first |p| bytes == p, so
          // prune only when max < p or min's first |p| bytes > p.
          // Truncating min's UTF-8 mid-codepoint is fine — the compare
          // is over raw bytes, never decoded.
          val pb = utf8Bytes(p)
          !allNull(s) &&
            s.max.forall(mx => byteCmp(utf8Bytes(mx), pb) >= 0) &&
            s.min.forall(mn =>
              byteCmp(utf8Bytes(mn).take(pb.length), pb) <= 0)
        }
        case _ => true // Not(...), StringContains, ... — no sound bound
      }
  }

  /** Rebuild the exact Column predicate of a pushed filter, applied on
    * top of the pruned file list so [[scan]] results are precise. */
  private def toColumn(f: Filter): Column = f match {
    case And(l, r) => toColumn(l) && toColumn(r)
    case Or(l, r) => toColumn(l) || toColumn(r)
    case Not(c) => !toColumn(c)
    case EqualTo(a, v) => col(a) === lit(v)
    case EqualNullSafe(a, v) => col(a) <=> lit(v)
    case GreaterThan(a, v) => col(a) > lit(v)
    case GreaterThanOrEqual(a, v) => col(a) >= lit(v)
    case LessThan(a, v) => col(a) < lit(v)
    case LessThanOrEqual(a, v) => col(a) <= lit(v)
    case In(a, vs) => col(a).isin(vs.toIndexedSeq: _*)
    case IsNull(a) => col(a).isNull
    case IsNotNull(a) => col(a).isNotNull
    case StringStartsWith(a, p) => col(a).startsWith(p)
    case StringEndsWith(a, p) => col(a).endsWith(p)
    case StringContains(a, p) => col(a).contains(p)
    case _: AlwaysTrue => lit(true)
    case _: AlwaysFalse => lit(false)
    case other =>
      throw new IllegalArgumentException(s"unsupported filter: $other")
  }

  // ------------------------------------------------------------- plumbing

  private def dataDirOf(fl: FileLineage): String = {
    val i = fl.path.lastIndexOf('/')
    fl.path.substring(0, i)
  }

  private def manifestPath(root: Path, version: Int): Path =
    new Path(root, f"metadata/v$version%05d.json")

  private def listVersions(spark: SparkSession, table: String): Seq[Int] = {
    val root = new Path(table)
    val f = fileSystem(spark, root)
    val metaDir = new Path(root, "metadata")
    if (!f.exists(metaDir)) return Seq.empty
    val re = """v(\d+)\.json""".r
    f.listStatus(metaDir).toSeq.flatMap { s =>
      s.getPath.getName match {
        case re(n) => Some(n.toInt)
        case _ => None
      }
    }.sorted
  }

  private def fileSystem(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
}
