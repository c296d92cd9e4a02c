package graft

import graft.graph.{EdgeBlocks, SimpleGraph}
import graft.graph.EdgeBlocks.Combine
import graft.multimodal.Multimodal
import graft.pregel.Pregel
import org.apache.spark.sql.functions._

/** Generic Pregel runner, CSR EdgeBlocks, multimodal plumbing. */
class PregelSpec extends SparkSpec {

  val verts: Seq[Long] = 1L to 10L
  val dirEdges: Seq[(Long, Long)] = Seq(
    (1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
    (1L, 6L), (1L, 7L), (6L, 7L), (7L, 1L), (8L, 9L), (9L, 8L))

  def g: SimpleGraph = {
    import spark.implicits._
    SimpleGraph(verts.toDF("vid"), dirEdges.toDF("src", "dst"),
      directed = true)
  }

  /** Runs `f` under each forced non-default tier: the co-partitioned
    * shuffle join, then the CSR block gather. `f` gets the property. */
  private def underForcedTiers(f: String => Unit): Unit =
    for (prop <- Seq("graft.force.shuffle", "graft.force.csr")) {
      sys.props(prop) = "true"
      try f(prop) finally sys.props.remove(prop)
    }

  private def csrOf(df: org.apache.spark.sql.DataFrame, p: Int) =
    EdgeBlocks.CsrGraph(EdgeBlocks.build(df, p), None)

  test("pregel pagerank variant (no dangling redistribution, " +
      "pagerank_pregel.h) matches in-JVM recurrence") {
    // In-JVM oracle of the pregel variant.
    val n = verts.size.toDouble
    val outDeg = dirEdges.groupBy(_._1).view.mapValues(_.size.toDouble)
      .toMap
    val inN = dirEdges.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    var rank = verts.map(v => v -> 1.0 / n).toMap
    for (_ <- 1 to 10) {
      rank = verts.map { v =>
        v -> (0.85 * inN.getOrElse(v, Nil)
          .map(w => rank(w) / outDeg(w)).sum + 0.15 / n)
      }.toMap
    }
    val got = Pregel.pagerankPregel(g).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assertAllClose(got, rank, 1e-9, "pregel pagerank")
  }

  test("aggregator-based pagerank (dangling SUM aggregator) == " +
      "closed-form apps.PageRank") {
    import graft.apps.PageRank
    // graph HAS dangling vertices (5 has no out edge) so the aggregator
    // actually carries mass
    val want = PageRank.run(g, 0.85, 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val got = Pregel.pagerankPregelAggregated(g, 0.85, 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assertAllClose(got, want, 1e-9, "aggregator pagerank")
  }

  test("aggregators: integral Max/Min reach the update as bigint; an " +
      "all-null contribution fails loudly") {
    import graft.pregel.Pregel.PregelAggregator
    import org.apache.spark.sql.LineageCut.{Max, Min, Sum}
    // every round, each state becomes the previous round's max + min
    val got = Pregel.run(g, 2, init = col("vid"), sendToDst = None,
      sendToSrc = None, agg = min, update = (s, _) => s,
      aggregators = Map("hi" -> PregelAggregator(col("state"), Max),
        "lo" -> PregelAggregator(col("state"), Min)),
      updateWithAggregators = Some((_, _, a) => a("hi") + a("lo")))
    assert(got.schema("state").dataType.simpleString == "bigint")
    assert(got.collect().map(_.getLong(1)).toSet == Set(22L))
    val e = intercept[IllegalArgumentException](Pregel.run(g, 1,
      init = col("vid"), sendToDst = None, sendToSrc = None, agg = min,
      update = (s, _) => s,
      aggregators = Map("none" ->
        PregelAggregator(lit(null).cast("long"), Sum)),
      updateWithAggregators = Some((s, _, a) => s + a("none"))))
    assert(e.getMessage.contains("combined to NULL"), e.getMessage)
  }

  test("pregel min-propagation == WCC labels") {
    val und = g.toUndirected
    val got = Pregel.run(und, 100,
      init = col("vid"),
      sendToDst = Some(col("src_state")),
      sendToSrc = None,
      agg = min,
      update = (s, m) => least(s, coalesce(m, s)),
      stopWhenNoChange = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = TestOracles.wcc(verts, dirEdges)
    assert(got == want)
  }

  test("EdgeBlocks CSR pack round-trips the edge set") {
    val blocks = EdgeBlocks.build(g.edges, 4)
    val unpacked = blocks.collect().flatMap { b =>
      b.srcIds.indices.flatMap { i =>
        (b.dstOffsets(i) until b.dstOffsets(i + 1))
          .map(j => (b.srcIds(i), b.dstUnique(b.dstIndex(j))))
      }
    }.toSet
    assert(unpacked == dirEdges.toSet)
  }

  test("EdgeBlocks gatherSum == join+groupBy gather") {
    import spark.implicits._
    val state = verts.map(v => (v, v * 1.5)).toDF("vid", "value")
    val got = EdgeBlocks.scan(csrOf(g.edges, 4), Combine.Sum, state, 4)
      .collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = dirEdges.groupBy(_._2).view
      .mapValues(_.map(_._1 * 1.5).sum).toMap
    assertAllClose(got, want, 1e-12, "gatherSum")
  }

  test("WCC via forced CSR gather tier == default tier") {
    import graft.apps.WCC
    val und = g.toUndirected
    val want = WCC.run(und).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    underForcedTiers { tier =>
      val got = WCC.run(und).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"$tier wcc differs")
    }
  }

  test("PageRank via forced CSR gather tier == default tier") {
    import graft.apps.PageRank
    val want = PageRank.run(g, 0.85, 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    underForcedTiers { tier =>
      val got = PageRank.run(g, 0.85, 10).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assertAllClose(got, want, 1e-12, s"$tier pagerank")
    }
  }

  test("SSSP/BFS/KShell via forced CSR gather tier == default tier") {
    import graft.apps.{BFS, KShell, SSSP}
    val wg = g.copy(edges = g.edges.withColumn("weight",
      (lit(1.0) + pmod(col("src") + col("dst"), lit(7)).cast("double"))))
    val und = g.toUndirected
    val wantS = SSSP.run(wg, 1L).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val wantB = BFS.run(g, 1L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wantK = KShell.coreNumbers(und).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    underForcedTiers { tier =>
      val gotS = SSSP.run(wg, 1L).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assertAllClose(gotS, wantS, 1e-12, s"$tier sssp")
      val gotB = BFS.run(g, 1L).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotB == wantB, s"$tier bfs differs")
      val gotK = KShell.coreNumbers(und).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotK == wantK, s"$tier kshell differs")
    }
  }

  test("CDLP via forced CSR gather tier == default tier") {
    import graft.apps.CDLP
    val want = CDLP.run(g, 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    underForcedTiers { tier =>
      val got = CDLP.run(g, 10).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"$tier cdlp differs")
    }
  }

  test("HITS/eigenvector/Katz via forced CSR gather tier == default tier") {
    import graft.apps.{Centrality, HITS}
    def asHub(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    def asC(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val wantH = asHub(HITS.run(g, 0.001, 30))
    val wantE = asC(Centrality.eigenvector(g, 1e-8, 50))
    val wantK = asC(Centrality.katz(g))
    underForcedTiers { tier =>
      val gotH = asHub(HITS.run(g, 0.001, 30))
      assert(gotH.keySet == wantH.keySet, s"$tier hits vid set differs")
      gotH.foreach { case (v, (h, a)) =>
        assert(math.abs(h - wantH(v)._1) < 1e-12, s"$tier hits hub $v")
        assert(math.abs(a - wantH(v)._2) < 1e-12, s"$tier hits auth $v")
      }
      assertAllClose(asC(Centrality.eigenvector(g, 1e-8, 50)), wantE,
        1e-12, s"$tier eigenvector")
      assertAllClose(asC(Centrality.katz(g)), wantK, 1e-12, s"$tier katz")
    }
  }

  test("hub-salted CSR tier == default tier on a skewed star graph") {
    import graft.apps.{PageRank, WCC}
    import spark.implicits._
    // Vertex 1 has out-degree 59 — far above the forced salt threshold
    // of 10, so its adjacency splits across ceil(59/10) = 6 pid slots.
    val star = (2L to 60L).map(d => (1L, d)) ++ Seq((60L, 1L), (5L, 6L))
    def mk = SimpleGraph((1L to 60L).toDF("vid"),
      star.toDF("src", "dst"), directed = true)
    val want = PageRank.run(mk, 0.85, 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val wantW = WCC.run(mk.toUndirected).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    sys.props("graft.force.csr") = "true"
    sys.props("graft.salt.threshold") = "10"
    try {
      val sg = mk
      val got = PageRank.run(sg, 0.85, 10).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assertAllClose(got, want, 1e-12, "salted csr pagerank")
      val gotW = WCC.run(mk.toUndirected).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotW == wantW, "salted csr wcc differs")
      // The memoized blocks PageRank just used really are salted: the
      // hub's adjacency spans several blocks.
      val p = spark.sessionState.conf.numShufflePartitions
      val csr = sg.preparedBlocks("dir", p)
      assert(csr.salts.isDefined, "salt table expected at threshold 10")
      val hubBlocks = csr.blocks.collect().count(_.srcIds.contains(1L))
      assert(hubBlocks >= 2, s"hub adjacency in $hubBlocks block(s)")
    } finally {
      sys.props.remove("graft.force.csr")
      sys.props.remove("graft.salt.threshold")
    }
  }

  test("pregel sssp (convergence-gated, sssp_pregel.h) == frontier SSSP") {
    import graft.apps.SSSP
    val wg = g.copy(edges = g.edges.withColumn("weight",
      (lit(1.0) + pmod(col("src") + col("dst"), lit(7)).cast("double"))))
    val want = SSSP.run(wg, 1L).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val got = Pregel.ssspPregel(wg, 1L).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assertAllClose(got, want, 1e-12, "pregel sssp")
  }

  test("pregel tc (array messages, tc_pregel.h) == Triangles") {
    import graft.apps.Triangles
    val und = g.toUndirected
    val want = Triangles.run(und).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Pregel.tcPregel(und).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, s"pregel tc: $got vs $want")
  }

  test("gatherSum/gatherMin fold duplicate state vids (sum / min)") {
    import spark.implicits._
    val csr = csrOf(g.edges, 4)
    // vid 1 appears twice in the state: contributions must SUM (Sum) and
    // MIN (Min), as each duplicate row joins every edge.
    val dup = (verts.map(v => (v, v * 1.5))
      ++ Seq((1L, 10.0))).toDF("vid", "value")
    val gotSum = EdgeBlocks.scan(csr, Combine.Sum, dup, 4).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val contribOf = verts.map(v => v -> v * 1.5).toMap
      .updated(1L, 1.5 + 10.0)
    val wantSum = dirEdges.groupBy(_._2).view
      .mapValues(_.map(e => contribOf(e._1)).sum).toMap
    assertAllClose(gotSum, wantSum, 1e-12, "gatherSum dup vids")

    val dupL = (verts.map(v => (v, v * 10L)) ++ Seq((3L, 7L)))
      .toDF("vid", "value")
    val gotMin = EdgeBlocks.scan(csr, Combine.Min, dupL, 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val minOf = verts.map(v => v -> v * 10L).toMap.updated(3L, 7L)
    val wantMin = dirEdges.groupBy(_._2).view
      .mapValues(_.map(e => minOf(e._1)).min).toMap
    assert(gotMin == wantMin, s"gatherMin dup vids: $gotMin vs $wantMin")
  }

  test("multimodal: REAL image decode (javax.imageio) recovers decoded " +
      "dimensions and a normalized luminance histogram") {
    val media = Multimodal.withRealImagePayloads(
      Multimodal.mediaFromDocuments(spark, "/root/testdata/sf0.001"))
    val metaWh = media.collect()
      .map(r => r.media_id -> (r.width, r.height)).toMap
    val feats = Multimodal.extractFeatures(media, 4).collect()
      .filter(_.kind == "image")
    assert(feats.nonEmpty)
    feats.foreach { f =>
      val (w, h) = metaWh(f.media_id)
      assert(f.feature(0) == w.toFloat && f.feature(1) == h.toFloat,
        s"decoded dims for ${f.media_id}")
      assert(f.feature(2) > 0.0f && f.feature(2) < 1.0f, "mean luminance")
      val histSum = f.feature.drop(3).sum
      assert(math.abs(histSum - 1.0f) < 1e-3, s"hist sums to $histSum")
      // PNG payloads are real encoded bytes, not the raw text
      assert(f.n_bytes > 0 && f.frames_sampled == 1)
    }
  }

  test("multimodal: REAL audio decode (javax.sound.sampled) recovers " +
      "sample count, rate, sine RMS and zero-crossing rate from WAV bytes") {
    val media = Multimodal.withRealAudioPayloads(
      Multimodal.mediaFromDocuments(spark, "/root/testdata/sf0.001"))
    val metaDur = media.collect()
      .map(r => r.media_id -> r.duration_ms).toMap
    val feats = Multimodal.extractFeatures(media, 4).collect()
      .filter(_.kind == "audio")
    assert(feats.nonEmpty)
    feats.foreach { f =>
      val n = metaDur(f.media_id) * 8 // 8 kHz synth rate
      assert(f.feature(0) == n.toFloat, s"sample count for ${f.media_id}")
      assert(f.feature(1) == 8000.0f, "sample rate")
      // analytic sine RMS = amp/sqrt(2) with amp = 0.5
      assert(math.abs(f.feature(2) - 0.5 / math.sqrt(2.0)) < 0.01,
        s"RMS ${f.feature(2)}")
      // analytic zero-crossing rate of a sine = 2*freq/sr
      val freq = 200.0 + (f.media_id % 17) * 40.0
      assert(math.abs(f.feature(3) - 2.0 * freq / 8000.0) < 0.01,
        s"ZCR ${f.feature(3)} for freq $freq")
      // WAV payloads are real encoded bytes (RIFF header + PCM)
      assert(f.n_bytes > 2L * n)
    }
  }

  test("multimodal: REAL video decode (RIFF/AVI demux + per-frame JPEG) " +
      "recovers frame count, dimensions, fps and inter-frame motion") {
    val media = Multimodal.withRealVideoPayloads(
      Multimodal.mediaFromDocuments(spark, "/root/testdata/sf0.001"))
    val metaMap = media.collect().map(r => r.media_id -> r).toMap
    val feats = Multimodal.extractFeatures(media, 4).collect()
      .filter(_.kind == "video")
    assert(feats.nonEmpty)
    feats.foreach { f =>
      val m = metaMap(f.media_id)
      val n = math.max(1, (m.duration_ms * 4 / 1000L).toInt)
      assert(f.frames_sampled == n, s"frame count for ${f.media_id}")
      assert(f.feature(0) == n.toFloat)
      assert(f.feature(1) == m.width.toFloat, "decoded width")
      assert(f.feature(2) == m.height.toFloat, "decoded height")
      assert(f.feature(3) == 4.0f, "container fps")
      // per-frame mean gray ramps with frame index -> motion is large
      assert(f.feature(5) > 0.01f, s"motion ${f.feature(5)}")
      // the payload really is a RIFF container with real JPEG frames
      assert(new String(m.payload.take(4), "US-ASCII") == "RIFF")
      val demuxed = Multimodal.Avi.demux(m.payload)
      assert(demuxed.nonEmpty && demuxed.get._2.length == n)
      // JPEG SOI marker on the first frame
      val f0 = demuxed.get._2.head
      assert((f0(0) & 0xff) == 0xff && (f0(1) & 0xff) == 0xd8,
        "frames are real JPEGs")
    }
  }

  test("multimodal: REAL image resize decodes, rescales and re-encodes " +
      "the payload (metadata-only rewrite for non-images)") {
    val media = Multimodal.withRealImagePayloads(
      Multimodal.mediaFromDocuments(spark, "/root/testdata/sf0.001"))
    val out = Multimodal.resize(media, 8, 6).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.width == 8 && r.height == 6)
      if (r.kind == "image") {
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(r.payload))
        assert(img != null && img.getWidth == 8 && img.getHeight == 6,
          s"re-encoded payload decodes at the new size for ${r.media_id}")
      }
    }
  }

  test("multimodal: binary plumbing + stub decode is deterministic") {
    val media = Multimodal.mediaFromDocuments(spark,
      "/root/testdata/sf0.001")
    val f1 = Multimodal.extractFeatures(media, 4)
    val rows = f1.collect()
    assert(rows.length == media.count().toInt)
    assert(rows.forall(_.feature.length == 8))
    assert(rows.filter(_.kind == "video").forall(_.frames_sampled >= 1))
    // determinism across partitionings
    val f2 = Multimodal.extractFeatures(media, 2).collect()
    assert(rows.map(r => r.media_id -> r.payload_hash).toMap ==
      f2.map(r => r.media_id -> r.payload_hash).toMap)
  }
}
