package graft.sim

import graft.pregel.Iterate
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (Array[Float]):
  * brute-force cosine top-k as the exact baseline, and an LSH
  * (random-hyperplane) bucketed variant as the 100 TB scale path.
  * Vector math via zip_with/aggregate — codegen'd, no UDFs. */
object Ann {

  /** Dot product of two float-array columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2norm(a) * l2norm(b))

  /** Exact brute-force cosine top-k: broadcast the (small) query set
    * against the corpus, window-rank per query. The corpus side streams —
    * no shuffle of the embeddings, one exchange for the per-query top-k
    * (TakeOrdered per key via row_number). */
  def bruteForceTopK(
      corpus: DataFrame, // (vec_id, embedding)
      queries: DataFrame, // (q_id, q_embedding)
      k: Int = 10): DataFrame = {
    val scored = corpus.crossJoin(broadcast(queries))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosine(col("embedding"), col("q_embedding")).as("cos"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("q_id", "vec_id", "cos", "rank")
  }

  /** Deterministic pseudo-random hyperplane component for (table, plane,
    * dim): xxhash64 -> [-1, 1). */
  private def planeComponent(table: Int, plane: Int, d: Column): Column =
    (pmod(xxhash64(lit(table), lit(plane), d, lit(0x9e3779b9L)),
      lit(2000000L)).cast("double") / lit(1000000.0)) - lit(1.0)

  /** Sign-random-projection bucket id for one hash table: `planes` sign
    * bits packed into a long. Vectors in a bucket are likely
    * cosine-close; P(bit agrees) = 1 - angle/pi (Charikar 2002). */
  def srpBucket(emb: Column, planes: Int, table: Int = 0): Column =
    (0 until planes).map { p =>
      val proj = aggregate(
        zip_with(emb, sequence(lit(0), size(emb) - 1),
          (x, i) => x * planeComponent(table, p, i)),
        lit(0.0), (acc, v) => acc + v)
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))

  /** All (table, bucket) keys of a vector: `tables` independent SRP hash
    * tables of `planes` bits each — the standard recall lever (union of
    * per-table collision probabilities). */
  private def tableBuckets(emb: Column, planes: Int, tables: Int): Column =
    array((0 until tables).map(t => struct(lit(t).as("tbl"),
      srpBucket(emb, planes, t).as("bucket"))): _*)

  /** LSH-bucketed ANN top-k: candidates = corpus vectors sharing any of
    * the query's `tables` SRP buckets; exact cosine re-rank inside the
    * candidate set. At 100 TB the corpus-side (tbl, bucket) keys are
    * precomputed once (a write-side clustering key) and each query joins
    * only its own buckets — no full scan per query. */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 10,
      planes: Int = 4,
      tables: Int = 12): DataFrame = {
    val bucketed = corpus.select(col("vec_id"), col("embedding"),
      explode(tableBuckets(col("embedding"), planes, tables)).as("bk"))
      .select(col("vec_id"), col("embedding"),
        col("bk.tbl"), col("bk.bucket"))
    val probes = queries.select(col("q_id"), col("q_embedding"),
      explode(tableBuckets(col("q_embedding"), planes, tables)).as("bk"))
      .select(col("q_id"), col("q_embedding"),
        col("bk.tbl"), col("bk.bucket"))
    val cand = bucketed.join(broadcast(probes), Seq("tbl", "bucket"))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosine(col("embedding"), col("q_embedding")).as("cos"))
      .distinct()
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    cand.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("q_id", "vec_id", "cos", "rank")
  }

  /** IVF (inverted-file) ANN top-k — the standard coarse-quantizer scale
    * path alongside LSH: `nlist` centroids (deterministic hash-sampled
    * init, `iters` Lloyd refinement rounds — pure DataFrame
    * aggregations), the corpus assigned once to its max-cosine centroid
    * (the inverted lists; at 100 TB a write-side clustering key built in
    * one scan per index build), and each query probing only its `nprobe`
    * nearest lists with an exact cosine re-rank inside them. The
    * centroid table is `nlist` rows — broadcast everywhere it appears;
    * the wide embedding arrays never shuffle (assignment keeps ids only,
    * embeddings re-attach by key). */
  def ivfTopK(
      corpus: DataFrame, // (vec_id, embedding)
      queries: DataFrame, // (q_id, q_embedding)
      k: Int = 10,
      nlist: Int = 16,
      nprobe: Int = 4,
      iters: Int = 2): DataFrame = {
    // Init: the nlist corpus vectors with the smallest xxhash64(vec_id) —
    // a uniform, partitioning-stable sample. The nlist-row sort that
    // assigns cids is a single tiny exchange.
    val wInit = Window.orderBy(xxhash64(col("vec_id")), col("vec_id"))
    val init = corpus
      .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(nlist)
      .select((row_number().over(wInit) - 1).as("cid"),
        col("embedding").as("centroid"))

    // (vec_id, cid): nearest (max-cosine) centroid per corpus vector.
    // Ids only — the embedding re-attaches by key where needed.
    def assign(centroids: DataFrame): DataFrame = corpus
      .crossJoin(broadcast(centroids))
      .select(col("vec_id"),
        struct(cosine(col("embedding"), col("centroid")).as("c"),
          (-col("cid")).as("nc")).as("s"))
      .groupBy("vec_id").agg(max(col("s")).as("s"))
      .select(col("vec_id"), (-col("s.nc")).cast("int").as("cid"))

    // Lloyd rounds over the centroid table: each centroid becomes the
    // element-wise mean of its list's members. Empty lists drop out
    // (classic k-means); probes and lists stay consistent because both
    // sides use the same centroid table.
    val centroids = Iterate.run(init, iters,
      step = Iterate.invariant(c => assign(c)
        .join(corpus, "vec_id")
        .select(col("cid"), posexplode(col("embedding")))
        .groupBy(col("cid"), col("pos")).agg(avg(col("col")).as("m"))
        .groupBy(col("cid")).agg(
          transform(
            array_sort(collect_list(struct(col("pos"), col("m")))),
            s => s("m").cast("float")).as("centroid"))),
      stop = Iterate.fixedRounds).state

    val lists = assign(centroids) // the inverted file: (vec_id, cid)

    // Each query probes its nprobe max-cosine lists.
    val wProbe = Window.partitionBy(col("q_id"))
      .orderBy(col("qc").desc, col("cid").asc)
    val probes = queries.crossJoin(broadcast(centroids))
      .select(col("q_id"), col("q_embedding"), col("cid"),
        cosine(col("q_embedding"), col("centroid")).as("qc"))
      .withColumn("pr", row_number().over(wProbe))
      .where(col("pr") <= nprobe)
      .select("q_id", "q_embedding", "cid")

    val cand = lists.join(broadcast(probes), Seq("cid"))
      .where(col("vec_id") =!= col("q_id"))
      .join(corpus, "vec_id")
      .select(col("q_id"), col("vec_id"),
        cosine(col("embedding"), col("q_embedding")).as("cos"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    cand.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("q_id", "vec_id", "cos", "rank")
  }

  /** Embedding-cosine near-duplicate pairs (dedup use-case): bucket both
    * sides into `tables` SRP tables, pair within (table, bucket),
    * threshold on exact cosine. High per-pair recall for near-identical
    * vectors: P(miss) = (1 - p_bit^planes)^tables with p_bit ~ 0.9+. */
  def cosineNearDupPairs(
      corpus: DataFrame,
      threshold: Double = 0.95,
      planes: Int = 8,
      tables: Int = 6): DataFrame = {
    // Buckets carry only ids: dedup the (id_a, id_b) collisions FIRST,
    // then attach embeddings and compute the cosine exactly once per pair
    // (a pair colliding in k of the `tables` tables must not pay k full
    // dot products — same fix as Dedup.minhashPairs), and the bucket
    // explosion never shuffles the wide embedding arrays.
    val b = corpus.select(col("vec_id"),
      explode(tableBuckets(col("embedding"), planes, tables)).as("bk"))
      .select(col("vec_id"), col("bk.tbl"), col("bk.bucket"))
    val pairs = b.toDF("id_a", "tbl", "bucket")
      .join(b.toDF("id_b", "tbl", "bucket"), Seq("tbl", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val emb = corpus.select(col("vec_id"), col("embedding"))
    pairs
      .join(emb.toDF("id_a", "e_a"), "id_a")
      .join(emb.toDF("id_b", "e_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        cosine(col("e_a"), col("e_b")).as("cos"))
      .where(col("cos") >= threshold)
  }
}
