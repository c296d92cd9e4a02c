package graft.text

import org.apache.spark.sql.{Column, DataFrame, LineageCut}
import org.apache.spark.sql.functions._

/** Deduplication suite for large-scale training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard. Everything is built from
  * codegen'd built-in functions (no UDFs): shingling via
  * sequence+transform+substring, hashing via xxhash64, signatures via
  * array aggregates — so the whole pipeline stays inside whole-stage
  * codegen and scales by partition count.
  *
  * Input contract: a documents DataFrame with (id: long, text: string)
  * columns (pass column names explicitly when they differ).
  */
object Dedup {

  /** Exact dedup by content hash: one hash-groupBy. Output one row per
    * distinct text: (canonical_id = min id, n_dups, sha). */
  def exact(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.groupBy(sha2(col(textCol), 256).as("sha")).agg(
      min(col(idCol)).as("canonical_id"),
      count(lit(1)).as("n_dups"))

  /** Character k-shingles of a text column as an array of hashes (distinct).
    * Hashing shingles immediately keeps rows narrow at 100 TB scale. */
  def shingleHashes(text: Column, k: Int = 5): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(text) - (k - 1), lit(1))),
      i => xxhash64(substr(text, i, lit(k)))))

  /** MinHash signature: for each of `numHashes` seeded hash functions, the
    * minimum over the shingle set (standard MinHash estimator of Jaccard
    * similarity — Broder 1997). */
  def minhashSignature(shingles: Column, numHashes: Int = 32): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      seed => array_min(transform(shingles, s => xxhash64(s, seed))))

  /** MinHash+LSH candidate pairs: band the signature (`bands` bands of
    * signature_len/bands rows), bucket-join on (band index, band hash),
    * then verify with the exact estimated Jaccard from the signatures.
    *
    * The band join is the scale path: only documents sharing a band bucket
    * are compared, so the cross-product never materializes. Hub buckets
    * (boilerplate text) are bounded by `maxBucket`.
    */
  /** (id, sig) MinHash signature relation of a documents frame — the
    * thing an incremental pipeline persists so corpus text is shingled
    * exactly once per document ([[incrementalDedupStep]]). */
  def signatures(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 5, numHashes: Int = 32)
      : DataFrame =
    docs.select(col(idCol).as("id"),
      minhashSignature(shingleHashes(col(textCol), k), numHashes)
        .as("sig"))

  /** One row per (doc, band): (id, sig, band, bh). Recomputing band
    * hashes from a persisted signature is a pure projection — cheap
    * enough that the signature store never needs to persist them. */
  private def bandedOf(sigs: DataFrame, bands: Int, rows: Int): DataFrame =
    sigs.select(col("id"), col("sig"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"),
            xxhash64(slice(col("sig"), b * rows + 1, lit(rows)).cast("string"))
              .as("bh")))).as("bk"))
      .select(col("id"), col("sig"), col("bk.band"), col("bk.bh"))

  def minhashPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 5,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.7,
      maxBucket: Int = 64): DataFrame = {
    val rows = numHashes / bands
    val sigs = LineageCut.localCheckpoint(
      signatures(docs, idCol, textCol, k, numHashes)).df

    val banded = bandedOf(sigs, bands, rows)

    // Cap pathological buckets (all-identical boilerplate) with a
    // groupBy-count semi-join: map-side combinable partial counts, no
    // per-key Window sort over the full exploded relation (the window
    // form added a needless sort at 100 TB; one cap implementation,
    // shared shape with incrementalMinhashPairs).
    val okBuckets = banded.groupBy("band", "bh").count()
      .where(col("count") <= maxBucket).select("band", "bh")
    val capped = banded.join(okBuckets, Seq("band", "bh"))

    // Dedup candidate PAIRS on the ids alone (a pair collides in several
    // bands), then re-attach the signatures once per surviving pair — a
    // distinct over (id_a, id_b, sig_a, sig_b) would ship both full
    // signature arrays through the dedup shuffle as part of the key.
    val a = capped.select(col("band"), col("bh"), col("id").as("id_a"))
    val b = capped.select(col("band"), col("bh"), col("id").as("id_b"))
    val cand = a.join(b, Seq("band", "bh"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()

    cand
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")),
        "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")),
        "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sig_a"), col("sig_b"))).cast("double")
          / size(col("sig_a"))).as("est_jaccard"))
      .where(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** End-to-end fuzzy-dedup clustering — the operation a 100 TB training-
    * data pipeline actually runs on top of pair generation: MinHash+LSH
    * candidate pairs ([[minhashPairs]]) become an undirected document-pair
    * graph; connected components over it assign a cluster id per document;
    * the minimum doc id in each cluster is the canonical survivor.
    *
    * Both phases are the proven scale paths: the banded LSH join never
    * materializes all-pairs, and the WCC superstep rides the tiered
    * strategy (broadcast/shuffle/CSR) — near-dup clusters are shallow, so
    * the min-id propagation converges in a handful of rounds over a pair
    * relation that is a sliver of |docs|. Exact duplicates share every
    * band bucket and therefore always land in one cluster.
    *
    * @return one row per input doc: (idCol, cluster, keep) — `keep` marks
    *         the min-id survivor; singletons keep themselves. */
  def dedupClusters(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 5,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.7,
      maxBucket: Int = 64): DataFrame = {
    val pairs =
      minhashPairs(docs, idCol, textCol, k, numHashes, bands, threshold,
        maxBucket)
    val g = graft.graph.SimpleGraph(
      docs.select(col(idCol).as("vid")),
      pairs.select(col("id_a").as("src"), col("id_b").as("dst")),
      directed = false)
    // WCC closes the pair relation symmetrically and labels each
    // component by its minimum vid (partition-invariant).
    graft.apps.WCC.run(g).select(
      col("vid").as(idCol), col("comp").as("cluster"),
      (col("vid") === col("comp")).as("keep"))
  }

  /** Near-dup pairs of a signature DELTA against the full corpus (store
    * ∪ delta) — the incremental core: every emitted pair touches at
    * least one delta id (store×store pairs were emitted when their later
    * doc was itself a delta), the band join only compares documents
    * sharing a bucket, and hub buckets are capped globally by a
    * groupBy-count semi-filter (map-side combinable — no per-increment
    * window sort over the store). Pair semantics match [[minhashPairs]]
    * on the full corpus exactly: its result restricted to delta-touching
    * pairs is this result. */
  def incrementalMinhashPairs(
      storeSigs: DataFrame,
      deltaSigs: DataFrame,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.7,
      maxBucket: Int = 64): DataFrame = {
    val rows = numHashes / bands
    val all = storeSigs.unionByName(deltaSigs)
    val allB = bandedOf(all, bands, rows)
    val okBuckets = allB.groupBy("band", "bh").count()
      .where(col("count") <= maxBucket).select("band", "bh")
    val capped = allB.join(okBuckets, Seq("band", "bh"))
    val deltaB = bandedOf(deltaSigs, bands, rows)
      .join(okBuckets, Seq("band", "bh"))

    val cand = deltaB.select(col("band"), col("bh"), col("id").as("id_d"))
      .join(capped.select(col("band"), col("bh"), col("id").as("id_o")),
        Seq("band", "bh"))
      .where(col("id_d") =!= col("id_o"))
      .select(least(col("id_d"), col("id_o")).as("id_a"),
        greatest(col("id_d"), col("id_o")).as("id_b"))
      .distinct()

    cand
      .join(all.select(col("id").as("id_a"), col("sig").as("sig_a")),
        "id_a")
      .join(all.select(col("id").as("id_b"), col("sig").as("sig_b")),
        "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sig_a"), col("sig_b"))).cast("double")
          / size(col("sig_a"))).as("est_jaccard"))
      .where(col("est_jaccard") >= threshold)
  }

  /** One append step of an incrementally-deduped corpus over two
    * snapshot tables ([[graft.sources.SnapshotTable]]): `corpusTable`
    * holds the documents, `sigTable` the persisted (id, sig) MinHash
    * signatures in version lockstep. The step signs ONLY `newDocs`,
    * finds their near-dup pairs against the whole corpus via
    * [[incrementalMinhashPairs]], then appends docs and signatures
    * (creating both tables on first use).
    *
    * The 100 TB posture: per increment, document TEXT is read and
    * shingled only for the delta — the corpus side touches just the
    * narrow signature relation, and the union of every step's pairs
    * equals a full [[minhashPairs]] recompute over the final corpus
    * (each pair surfaces when its later document arrives). One caveat:
    * the hub-bucket cap is evaluated per step, so a pair emitted while
    * its band bucket was still under `maxBucket` stays in the
    * accumulated log even if later growth pushes that bucket over the
    * cap (where a full recompute would then drop the whole bucket) —
    * the incremental log never loses recall, it can only keep early
    * pairs a fresh recompute's cap would suppress.
    *
    * Crash safety: the corpus and signature appends are two non-atomic
    * commits. Every sig commit records the corpus version it is in
    * lockstep with (`corpusVersion` in the manifest summary); on entry,
    * corpus rows committed past that marker (a crash landed the corpus
    * append but not the sig append) are RE-SIGNED and folded into this
    * step's delta, so the invariant self-heals and the crashed delta's
    * pairs against the older store are still emitted. Pre-marker sig
    * stores are assumed in lockstep (the pre-r5 behavior). A crash
    * after BOTH appends loses only the returned (unconsumed) pairs —
    * callers that persist the pair log should write it before treating
    * the step as done, or replay from the recorded versions.
    *
    * @return the new near-dup pairs (id_a, id_b, est_jaccard) */
  def incrementalDedupStep(
      corpusTable: String,
      sigTable: String,
      newDocs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 5,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.7,
      maxBucket: Int = 64): DataFrame = {
    import graft.sources.SnapshotTable
    val spark = newDocs.sparkSession
    // Reconcile a crash between the two appends (see the doc above):
    // corpus rows beyond the sig store's recorded corpusVersion have no
    // signature — re-sign them as part of this step's delta. The
    // incremental read touches exactly the unsigned commits' files.
    val corpusV0 = SnapshotTable.currentVersionOpt(spark, corpusTable)
    val sigV0 = SnapshotTable.currentVersionOpt(spark, sigTable)
    val signedThrough = sigV0.flatMap(v =>
      SnapshotTable.manifest(spark, sigTable, v)
        .summary.get("corpusVersion")).map(_.toInt)
    val unsigned: Option[DataFrame] = (corpusV0, signedThrough) match {
      case (Some(cv), Some(sv)) if sv < cv =>
        Some(SnapshotTable.readIncremental(spark, corpusTable, sv, cv)
          .select(col(idCol), col(textCol)))
      case (Some(_), None) if sigV0.isEmpty =>
        // crash before the very first sig commit: all corpus rows are
        // unsigned
        Some(SnapshotTable.read(spark, corpusTable)
          .select(col(idCol), col(textCol)))
      case _ => None // in lockstep (or a legacy pre-marker store)
    }
    val newSigs = signatures(newDocs, idCol, textCol, k, numHashes)
    val deltaSigs = LineageCut.localCheckpoint(unsigned
      .map(d => signatures(d, idCol, textCol, k, numHashes))
      .foldLeft(newSigs)(_ unionByName _)).df
    // Pin the store BEFORE appending the delta (the manifest file list
    // is resolved here, so the lazy pair plan can't see its own delta).
    val store = sigV0 match {
      case Some(_) =>
        SnapshotTable.read(spark, sigTable).select(col("id"), col("sig"))
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        deltaSigs.schema)
    }
    val pairs = incrementalMinhashPairs(store, deltaSigs, numHashes,
      bands, threshold, maxBucket)
    val cv1 =
      if (corpusV0.isEmpty) SnapshotTable.create(newDocs, corpusTable)
      else SnapshotTable.append(newDocs, corpusTable)
    val mark = Map("corpusVersion" -> cv1.toString)
    if (sigV0.isEmpty) SnapshotTable.create(deltaSigs, sigTable, mark)
    else SnapshotTable.append(deltaSigs, sigTable, mark)
    pairs
  }

  /** 64-bit SimHash of the whitespace-token multiset — Charikar 2002: per
    * bit position j, the sign of Σ_tokens (±1 by bit j of the token hash).
    *
    * Formulated as explode -> one wide 64-column sum aggregate -> bit
    * recombination: the shift amounts are Scala-level constants (shiftleft/
    * shiftrightunsigned take Int shifts), the aggregation is map-side
    * combinable, and everything stays in whole-stage codegen.
    *
    * @return (idCol, simhash: long) */
  def simhash(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val tok = docs.select(col(idCol),
        explode(split(col(textCol), " ")).as("t"))
      .select(col(idCol), xxhash64(col("t")).as("h"))
    val bitSums = (0 until 64).map { j =>
      sum(when(shiftrightunsigned(col("h"), j).bitwiseAND(lit(1L)) === 1L,
        lit(1L)).otherwise(lit(-1L))).as(s"b$j")
    }
    val agg = tok.groupBy(col(idCol))
      .agg(bitSums.head, bitSums.tail: _*)
    val sim = (0 until 64).map { j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    agg.select(col(idCol), sim.as("simhash"))
  }

  /** Hamming distance between two 64-bit simhashes (popcount of XOR,
    * SWAR — no loop, pure codegen'd arithmetic). */
  def hamming64(a: Column, b: Column): Column = {
    // ANSI-safe SWAR: popcount each 32-bit half inside non-negative long
    // arithmetic (64-bit SWAR needs wrapping ops, which ANSI mode rejects).
    def pop32(v: Column): Column = {
      val s1 = v - shiftrightunsigned(v, 1).bitwiseAND(lit(0x55555555L))
      val s2 = s1.bitwiseAND(lit(0x33333333L)) +
        shiftrightunsigned(s1, 2).bitwiseAND(lit(0x33333333L))
      val s3 = (s2 + shiftrightunsigned(s2, 4))
        .bitwiseAND(lit(0x0f0f0f0fL))
      // mask back to 32 bits before the byte-sum shift (we're doing 32-bit
      // SWAR inside 64-bit lanes, so the product's high bits must go)
      shiftrightunsigned(
        (s3 * lit(0x01010101L)).bitwiseAND(lit(0xffffffffL)), 24)
    }
    val x = a.bitwiseXOR(b)
    pop32(x.bitwiseAND(lit(0xffffffffL))) + pop32(shiftrightunsigned(x, 32))
  }

  /** SimHash near-duplicate pairs: block on 4 x 16-bit bands (two docs
    * within Hamming distance 3 of each other share at least one band by
    * pigeonhole), then verify the full Hamming distance. */
  def simhashPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", maxHamming: Int = 3): DataFrame = {
    val sh = LineageCut.localCheckpoint(simhash(docs, idCol, textCol)).df
    val banded = sh.select(col(idCol).as("id"), col("simhash"),
      explode(array((0 until 4).map(b => struct(lit(b).as("band"),
        shiftrightunsigned(col("simhash"), b * 16)
          .bitwiseAND(lit(0xffffL)).as("key"))): _*)).as("bk"))
      .select(col("id"), col("simhash"), col("bk.band"), col("bk.key"))
    val a = banded.toDF("id_a", "sim_a", "band", "key")
    val b = banded.toDF("id_b", "sim_b", "band", "key")
    a.join(b, Seq("band", "key")).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hamming64(col("sim_a"), col("sim_b")).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Near-duplicate pairs by n-gram (word) Jaccard, inverted-index join:
    * explode each doc's distinct word n-grams, join on the n-gram (with a
    * document-frequency cap to kill stop-gram hubs), count shared grams per
    * pair, then Jaccard = shared / (|A| + |B| - shared). */
  def ngramJaccardPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3,
      threshold: Double = 0.5,
      maxDocFreq: Int = 200): DataFrame = {
    val toks = split(col(textCol), " ")
    val grams = LineageCut.localCheckpoint(docs.select(col(idCol).as("id"),
        array_distinct(transform(
          sequence(lit(0), greatest(size(toks) - n, lit(0))),
          i => xxhash64(concat_ws("", slice(toks, i + 1, lit(n))))))
          .as("grams"))).df
    val sizes = grams.select(col("id"), size(col("grams")).as("sz"))

    val inv = grams.select(col("id"), explode(col("grams")).as("g"))
    // Document-frequency cap as a groupBy-count semi-join (map-side
    // combinable; same form as the MinHash bucket cap — a Window count
    // here sorts the whole inverted index per gram).
    val okGrams = inv.groupBy("g").count()
      .where(col("count") <= maxDocFreq).select("g")
    // re-select in (id, g) order: a using-column join moves the key
    // first, and the positional toDF renames below depend on the order
    val capped = inv.join(okGrams, Seq("g")).select("id", "g")

    val shared = capped.toDF("id_a", "g")
      .join(capped.toDF("id_b", "g"), "g")
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"))

    shared
      .join(sizes.toDF("id_a", "sz_a"), "id_a")
      .join(sizes.toDF("id_b", "sz_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("shared").cast("double")
          / (col("sz_a") + col("sz_b") - col("shared"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }
}
