package graft

import graft.ext._
import graft.streaming.Streams
import org.apache.spark.sql.functions._

/** LLM-data-pipeline extension operators: dedup family, ANN, text
  * analysis, multimodal plumbing, streaming-safe aggregations. */
class ExtSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog", "en", "a"),
    (1L, "the quick brown fox jumps over the lazy cat", "en", "a"),
    (2L, "der schnelle braune fuchs springt und der hund ist faul", "de", "b"),
    (3L, "el perro es una mascota para la casa de los gatos", "es", "b"),
    (4L, "the quick brown fox jumps over the lazy dog", "en", "c"), // dup of 0
    (5L, "completely different words about spark engines and data", "en", "c")
  ).toDF("doc_id", "text", "lang", "source")

  test("degenerate inputs: empty pair list, short docs, oversized k") {
    // connected components of an empty pair list: empty result with the
    // right schema, and assignClusters leaves every doc a singleton
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val cc = Cluster.connectedComponents(noPairs)
    assert(cc.columns.toSeq == Seq("id", "component") && cc.count() == 0)
    val assigned = Cluster.assignClusters(docs, "doc_id", noPairs)
    assert(assigned.filter(col("is_canonical")).count() == docs.count())

    // docs shorter than the shingle width produce no shingles and no
    // pairs — not a crash
    val tiny = Seq((0L, "a b"), (1L, "c")).toDF("doc_id", "text")
    assert(Dedup.ngramJaccardPairs(tiny, "doc_id", "text",
      n = 5, threshold = 0.1).count() == 0)

    // k larger than the corpus: every other vector is returned, ranked,
    // and nothing fails
    val emb = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val topk = Ann.bruteForceTopK(emb, emb, "vec_id", "embedding", k = 10)
    assert(topk.groupBy(col("query_id")).count().collect()
      .forall(_.getLong(1) == 2))
  }

  test("exact dedup finds the duplicate group and keeps the min id") {
    val groups = Dedup.exactDuplicates(docs, "doc_id", "text").collect()
    assert(groups.length == 1)
    assert(groups(0).getAs[Long]("n_copies") == 2)
    assert(groups(0).getAs[Long]("keep_id") == 0L)
    val kept = Dedup.dropExactDuplicates(docs, "doc_id", "text")
    assert(kept.count() == 5)
    assert(kept.filter($"doc_id" === 4L).count() == 0)
  }

  test("n-gram Jaccard: identical docs 1.0, one-word-change high, unrelated absent") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3,
      threshold = 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(pairs((0L, 4L)) - 1.0) < 1e-12)
    assert(pairs((0L, 1L)) > 0.5 && pairs((0L, 1L)) < 1.0)
    assert(!pairs.contains((0L, 5L)))
  }

  test("MinHash LSH finds the exact-dup and near-dup pairs") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", shingleN = 3,
      numHashes = 16, bands = 8, threshold = 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.contains((0L, 4L)) && math.abs(pairs((0L, 4L)) - 1.0) < 1e-12)
    // the (0,1) near-dup shares most shingles; 8 bands of 2 catches it whp
    assert(pairs.contains((0L, 1L)))
  }

  test("MinHash LSH length prefilter is recall-lossless: on == off") {
    // the public entry turns the filter on only for corpus-scale shingle
    // tables, so drive both settings directly on the same checkpoint
    val sh = Dedup.shingles(docs, "doc_id", "text", 3).localCheckpoint()
    def run(lenFilter: Boolean) = Dedup.minhashLshPairsOn(sh, "doc_id",
        numHashes = 16, bands = 8, threshold = 0.3, lenFilter = lenFilter)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val off = run(lenFilter = false)
    assert(off.exists(p => p._1 == 0L && p._2 == 4L), s"LSH missed the (0,4) duplicate: $off")
    assert(run(lenFilter = true) == off)
  }

  test("SimHash: identical docs at Hamming 0; related docs close") {
    val pairsDf = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 8)
    val pairs = pairsDf
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs((0L, 4L)) == 0)
    assert(pairs((0L, 1L)) <= 6) // one word changed out of nine
    // pigeonhole banding is lossless: equals the all-pairs reference
    val sig = Dedup.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = (for {
      a <- sig.keys; b <- sig.keys if a < b
      h = java.lang.Long.bitCount(sig(a) ^ sig(b)) if h <= 8
    } yield (a, b) -> h).toMap
    assert(pairs == exact)
    // and the candidates come from an equi-join, not an all-pairs loop
    val plan = pairsDf.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("56-bit SimHash (the corpus-scale width) stays pigeonhole-lossless") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text",
        maxHamming = 20, bits = 56)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val sig = Dedup.simhash(docs, "doc_id", "text", bits = 56).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the wide signature still nails the exact duplicate and the 16-bit
    // prefix of every signature equals the 16-bit signature
    assert(pairs((0L, 4L)) == 0)
    val sig16 = Dedup.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig.forall { case (id, s) => (s & 0xFFFFL) == sig16(id) })
    val exact = (for {
      a <- sig.keys; b <- sig.keys if a < b
      h = java.lang.Long.bitCount(sig(a) ^ sig(b)) if h <= 20
    } yield (a, b) -> h).toMap
    assert(pairs == exact)
  }

  test("hot-shingle cap keeps Jaccard exact while pruning the hot key") {
    // every doc shares the same 3-token opener (a "stopword shingle");
    // docs 0/1 are near-dups through their OTHER shingles
    val hot = Seq(
      (0L, "breaking news today alpha beta gamma delta epsilon"),
      (1L, "breaking news today alpha beta gamma delta zeta"),
      (2L, "breaking news today completely different one two"),
      (3L, "breaking news today unrelated words four five"),
      (4L, "breaking news today more filler text six seven"),
      (5L, "breaking news today yet another doc eight nine")
    ).toDF("doc_id", "text")
    def toMapOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val uncapped = toMapOf(Dedup.ngramJaccardPairs(hot, "doc_id", "text", 3, 0.3))
    val capped = toMapOf(Dedup.ngramJaccardPairs(hot, "doc_id", "text", 3, 0.3,
      maxShingleDf = Some(3L)))
    assert(capped.contains((0L, 1L)))
    // pairs linked ONLY through the hot opener sit far below threshold,
    // so the capped result is identical — including the jaccard values,
    // which are recomputed over the FULL shingle sets
    assert(capped == uncapped)
  }

  test("pair-key scheme + firing maxShingleDf keeps shares-one-cold-shingle recall") {
    // t >= 0.6 routes to the k=2 pair-key scheme; the explicit cap
    // filters the hot opener words out of the prefix, so docs 0/1's
    // only shared below-cap in-prefix shingle is the ONE word "cold1" —
    // no shared 2-subset exists and the pair would vanish without the
    // allSingles restoration (the k=1 capped path always found it)
    val docs = Seq(
      (0L, "hot1 hot2 hot3 cold1 x0"),
      (1L, "hot1 hot2 hot3 cold1 y0"),
      (2L, "hot1 hot2 hot3 aa bb"),
      (3L, "hot1 hot2 hot3 cc dd"),
      (4L, "hot1 hot2 hot3 ee ff")
    ).toDF("doc_id", "text")
    def toMapOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val uncapped = toMapOf(Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 1, threshold = 0.6, candidateBudget = None))
    // J(0,1) = 4/6 through the full sets (hot words included)
    assert(uncapped == Map((0L, 1L) -> 4.0 / 6.0))
    val capped = toMapOf(Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 1, threshold = 0.6, maxShingleDf = Some(2L),
      candidateBudget = None))
    assert(capped == uncapped,
      "a pair sharing exactly one cold in-prefix shingle must survive " +
        s"a firing explicit cap under the pair scheme: $capped")
  }

  test("droppedAboveCap accounts the cut tail exactly when the cap fires") {
    // masses per df layer: df=1 -> 0, df=2 -> 3*1 = 3, df=8 -> 28
    val histo = Array(1L -> 4L, 2L -> 3L, 8L -> 1L)
    assert(Dedup.capForBudget(histo, 10L) == Some(2L))
    assert(Dedup.droppedAboveCap(histo, 2L) == ((1L, 28L)))
    // budget fits everything -> no cap -> zero accounting above maxDf
    assert(Dedup.capForBudget(histo, 100L) == None)
    assert(Dedup.droppedAboveCap(histo, 8L) == ((0L, 0L)))
    // any firing cap has strictly positive dropped mass (the accounting
    // fires exactly when the cap does)
    for (b <- Seq(0L, 1L, 3L, 10L, 30L))
      Dedup.capForBudget(histo, b).foreach { c =>
        assert(Dedup.droppedAboveCap(histo, c)._2 > 0L,
          s"budget $b fired cap $c with zero accounted mass")
      }
    // saturation: an astronomically hot tail pins, never wraps negative
    val hot = Array(1L -> 1L, 1000000000L -> 1000L)
    assert(Dedup.droppedAboveCap(hot, 1L)._2 == Long.MaxValue)
  }

  test("candidate-budget guard: exact values kept, only-hot pairs dropped") {
    // docs 0/1 are near-dups through cold shingles; docs 10/11 overlap
    // ONLY through the shared hot opener (df = 8 across the corpus)
    val docs = Seq(
      (0L, "breaking news today alpha beta gamma delta epsilon"),
      (1L, "breaking news today alpha beta gamma delta zeta"),
      (2L, "breaking news today completely different one two"),
      (3L, "breaking news today unrelated words four five"),
      (4L, "breaking news today more filler text six seven"),
      (5L, "breaking news today yet another doc eight nine"),
      (10L, "breaking news today aaa bbb ccc"),
      (11L, "breaking news today ddd eee fff")
    ).toDF("doc_id", "text")
    def toMapOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = toMapOf(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3,
      0.1, candidateBudget = None))
    // budget 10 fits the df<=2 layers (mass 4) but not the df-8 opener
    // (mass 28) -> budget-derived cap 2 drops exactly the opener
    val guarded = toMapOf(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3,
      0.1, candidateBudget = Some(10L)))
    assert(exact.contains((10L, 11L)), "only-hot pair visible unguarded")
    assert(!guarded.contains((10L, 11L)),
      "pair overlapping ONLY on the hot opener must be dropped")
    // at threshold 0.1 every cross pair qualifies through the opener
    // alone; the ONLY pair with cold shared shingles is (0, 1) — the
    // guard keeps exactly it, with the full-set-exact jaccard value
    assert(guarded == Map((0L, 1L) -> exact((0L, 1L))),
      "pairs with a cold shared shingle survive with exact values")
    // a budget that fits everything changes nothing
    val roomy = toMapOf(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3,
      0.1, candidateBudget = Some(1000000L)))
    assert(roomy == exact)
  }

  // docs 8/9 are single-shingle twins (exactly 3 tokens): at high
  // thresholds the pair-key scheme cannot form a 2-subset for them, so
  // only the tiny-doc single-key fallback can discover the pair
  private def prefixCorpus = Seq(
    (0L, "the quick brown fox jumps over the lazy dog today"),
    (1L, "the quick brown fox jumps over the lazy dog tonight"),
    (2L, "the quick brown fox jumps over a sleepy cat today"),
    (3L, "completely unrelated text about seventeen green bottles"),
    (4L, "the quick brown fox jumps over the lazy dog today"),
    (5L, "seventeen green bottles hanging on the wall somewhere"),
    (6L, "short doc"),
    (7L, "the quick brown fox leaps over the lazy dog today"),
    (8L, "purple elephant parade"),
    (9L, "purple elephant parade")
  ).toDF("doc_id", "text")

  private def pairsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.get(0).toString.toLong, r.get(1).toString.toLong) ->
      r.getDouble(2)).toMap

  private val verifyRoutes = Seq(Dedup.Route.Kernel,
    Dedup.Route.BroadcastJoins, Dedup.Route.SortMerge)

  // capped-verify fixture: maxShingleDf = 3 drops the hot shingles so the
  // exact-verification path must engage
  private def verifyDocs = Seq(
    (0L, "breaking news today alpha beta gamma delta epsilon"),
    (1L, "breaking news today alpha beta gamma delta zeta"),
    (2L, "breaking news today completely different one two"),
    (3L, "alpha beta gamma delta epsilon zeta eta theta"),
    (4L, "alpha beta gamma delta epsilon zeta eta iota")
  ).toDF("doc_id", "text")

  private def verifyVia(route: Dedup.Route) = pairsOf(
    Dedup.ngramJaccardPairsVia(verifyDocs, "doc_id", "text", 3, 0.1,
      maxShingleDf = Some(3L), candidateBudget = None, route = Some(route)))

  test("verify-join strategy (broadcast vs sort-merge) never changes results") {
    // the join strategy is a pure physical choice, so forcing each
    // extreme must produce byte-identical pair sets INCLUDING the
    // jaccard values
    val viaBroadcast = verifyVia(Dedup.Route.BroadcastJoins)
    val viaSortMerge = verifyVia(Dedup.Route.SortMerge)
    assert(viaBroadcast.nonEmpty, "capped verify path must engage")
    assert(viaBroadcast == viaSortMerge,
      s"join strategy changed results: $viaBroadcast vs $viaSortMerge")
  }

  test("opt-in verify kernel (single broadcast) matches the join routes") {
    // the single-broadcast kernel (one broadcast map + a two-pointer
    // merge) replaces both verify joins; the swap must be invisible in
    // the results against either join route
    val viaKernel = verifyVia(Dedup.Route.Kernel)
    assert(viaKernel.nonEmpty, "kernel path must engage and produce pairs")
    for (route <- Seq(Dedup.Route.BroadcastJoins, Dedup.Route.SortMerge)) {
      val viaJoins = verifyVia(route)
      assert(viaKernel == viaJoins,
        s"verify kernel diverged from $route: $viaKernel vs $viaJoins")
    }
  }

  test("prefix+length+positional filtering is recall-lossless vs the direct path") {
    // the cost-based path choice must be invisible in the results: the
    // prefix-filtered + verified path, forced on each verify route, must
    // produce byte-identical pairs AND jaccard values to the plain
    // inverted-index count, at a low and a high threshold; the (8, 9)
    // twins pin the pair-key scheme's tiny-doc fallback
    for (t <- Seq(0.2, 0.8)) {
      val direct = pairsOf(Dedup.ngramJaccardPairsVia(prefixCorpus, "doc_id",
        "text", n = 3, threshold = t, maxShingleDf = None,
        candidateBudget = None, route = Some(Dedup.Route.Direct)))
      assert(direct.nonEmpty, s"direct path empty at t=$t — fixture broken")
      assert(direct.contains((8L, 9L)) && direct((8L, 9L)) == 1.0,
        s"single-shingle twin pair missing at t=$t")
      for (route <- verifyRoutes) {
        val viaPrefix = pairsOf(Dedup.ngramJaccardPairsVia(prefixCorpus,
          "doc_id", "text", n = 3, threshold = t, maxShingleDf = None,
          candidateBudget = None, route = Some(route)))
        assert(viaPrefix == direct,
          s"prefix path via $route diverged at t=$t: $viaPrefix vs $direct")
      }
    }
  }

  test("prefix path with integer and string ids matches long ids on every verify route") {
    // PyApi passes any id column through; the kernel keys its map by the
    // id value and the join routes join on it, so the id type must not
    // change which pairs are found or their jaccard values
    for (t <- Seq(0.2, 0.8)) {
      val want = pairsOf(Dedup.ngramJaccardPairs(prefixCorpus, "doc_id",
        "text", n = 3, threshold = t, candidateBudget = None))
      assert(want.contains((8L, 9L)), s"fixture broken at t=$t: $want")
      for (idType <- Seq("int", "string"); route <- verifyRoutes) {
        val docs = prefixCorpus.withColumn("doc_id", col("doc_id").cast(idType))
        val got = Dedup.ngramJaccardPairsVia(docs, "doc_id", "text", n = 3,
          threshold = t, maxShingleDf = None, candidateBudget = None,
          route = Some(route))
        assert(got.schema("id_a").dataType == docs.schema("doc_id").dataType)
        assert(pairsOf(got) == want,
          s"$idType ids via $route at t=$t: ${pairsOf(got)} vs $want")
      }
    }
  }

  test("effectiveCapFor mirrors the main path's guard decisions") {
    // the pin helper reads ngramJaccardPairs' own plan: direct path
    // (roomy budget => None), binding budget => Some, explicit hot cap
    // firing/not-firing — using the budget-guard fixture whose opener
    // shingle has df 8
    val docs = Seq(
      (0L, "breaking news today alpha beta gamma delta epsilon"),
      (1L, "breaking news today alpha beta gamma delta zeta"),
      (2L, "breaking news today completely different one two"),
      (3L, "breaking news today unrelated words four five"),
      (4L, "breaking news today more filler text six seven"),
      (5L, "breaking news today yet another doc eight nine"),
      (10L, "breaking news today aaa bbb ccc"),
      (11L, "breaking news today ddd eee fff")
    ).toDF("doc_id", "text")
    def cap(maxDf: Option[Long], budget: Option[Long]) =
      Dedup.effectiveCapFor(docs, "doc_id", "text", n = 3, threshold = 0.1,
        maxShingleDf = maxDf, candidateBudget = budget)
    assert(cap(None, Some(10L)).nonEmpty, "binding budget must report a cap")
    assert(cap(None, Some(1000000L)).isEmpty,
      "roomy budget takes the direct-path mirror: no cap")
    assert(cap(Some(3L), None).nonEmpty, "hot opener (df 8) fires the cap")
    assert(cap(Some(100L), None).isEmpty, "no shingle hotter than 100")
    assert(cap(None, None).isEmpty, "unguarded call never caps")
  }

  test("capForBudget saturates instead of overflowing at guard-scale dfs") {
    // d = 1e9 gives ~5e17 candidate rows per shingle; 19 such shingles
    // wraps a naive Long accumulator negative, which would make
    // `cum + mass <= budget` spuriously TRUE and silently uncap the
    // stream. Saturation must keep the hot layer out at ANY budget.
    val hot = Array(1000000000L -> 19L)
    assert(Dedup.capForBudget(hot, Long.MaxValue - 1) == Some(0L))
    assert(Dedup.capForBudget(hot, 100000000L) == Some(0L))
    // cold layers below the budget are still retained greedily
    val mixed = Array(2L -> 5L, 3L -> 4L, 1000000000L -> 19L)
    assert(Dedup.capForBudget(mixed, 100L) == Some(3L))
    assert(Dedup.capForBudget(mixed, 6L) == Some(2L))
    // everything fits -> no cap
    assert(Dedup.capForBudget(Array(2L -> 5L, 8L -> 1L), 1000L) == None)
    assert(Dedup.capForBudget(Array.empty[(Long, Long)], 10L) == None)
  }

  test("candidate budget derives from scratch capacity with a floor") {
    // 75 GiB free -> 75 GiB / 2 / 192 B = 209,715,200 pair rows
    assert(Dedup.scratchDerivedBudget(75L << 30) == 209715200L)
    // tiny or zero free space never drops below the measured-safe floor
    assert(Dedup.scratchDerivedBudget(0L) == Dedup.MinCandidatePairBudget)
    assert(Dedup.scratchDerivedBudget(1L << 20) == Dedup.MinCandidatePairBudget)
    // conf key wins over the free-space derivation; explicit budgets
    // pass through untouched
    spark.conf.set("spark.graft.dedup.candidateBudget", "12345")
    try {
      assert(Dedup.resolveCandidateBudget(spark,
        Dedup.AutoCandidatePairBudget) == 12345L)
      assert(Dedup.resolveCandidateBudget(spark, 777L) == 777L)
    } finally spark.conf.unset("spark.graft.dedup.candidateBudget")
    // unset: the environment-derived budget respects the floor
    assert(Dedup.resolveCandidateBudget(spark,
      Dedup.AutoCandidatePairBudget) >= Dedup.MinCandidatePairBudget)
  }

  test("oracle-scale pin: no dedup cap fires on the sf0.01 fixtures") {
    // the guard changes which pairs are DISCOVERED — exactly what the
    // DuckDB oracle hashes — so the oracle-compared configuration
    // (q_jaccard_pairs / q_dedup_clusters parameters) must run uncapped
    // at oracle scale even under the strictest realistic budget (the
    // floor). If fixture density ever drifts enough to fire a cap here,
    // this fails loudly instead of the oracle silently diverging.
    val docs = spark.read.parquet(sf("sf0.01/documents.parquet"))
    val cap = Dedup.effectiveCapFor(docs, "doc_id", "text", n = 3,
      threshold = 0.8, maxShingleDf = Some(10000L),
      candidateBudget = Some(Dedup.MinCandidatePairBudget))
    assert(cap.isEmpty, s"dedup cap $cap would fire at oracle scale — " +
      "the DuckDB hash comparison is no longer comparing exact results")
  }

  test("embedding cosine near-dup and brute-force ANN agree") {
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)), (1L, Seq(0.9f, 0.1f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f)), (3L, Seq(0.0f, 0.95f, 0.05f))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(vecs, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L), (2L, 3L)))
    val topk = Ann.bruteForceTopK(vecs, vecs, "vec_id", "embedding", k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(topk(0L) == 1L && topk(1L) == 0L && topk(2L) == 3L && topk(3L) == 2L)
  }

  test("block-pair kernels are exact and block-count invariant") {
    val rng = new scala.util.Random(7)
    val vecs = (0L until 120L).map(i =>
      (i, Seq.fill(8)(rng.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    def pairSet(nBlocks: Int) =
      Dedup.embeddingNearDupPairs(vecs, "vec_id", "embedding", 0.5, nBlocks)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val one = pairSet(1)
    assert(one.nonEmpty)
    assert(pairSet(5) == one) // same pairs AND bit-identical cosines
    def topSet(nBlocks: Int) =
      Ann.bruteForceTopK(vecs.filter($"vec_id" < 8), vecs, "vec_id",
          "embedding", 3, nBlocks)
        .collect().map(r =>
          (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val t1 = topSet(1)
    assert(t1.size == 8 * 3)
    assert(topSet(7) == t1)
  }

  test("IVF ANN achieves high recall@5 vs brute force") {
    val rng = new scala.util.Random(13)
    val vecs = (0L until 300L).map(i =>
      (i, Seq.fill(16)(rng.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val queries = vecs.filter($"vec_id" < 10)
    val exact = Ann.bruteForceTopK(queries, vecs, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Ann.ivfTopK(queries, vecs, "vec_id", "embedding", 5,
      nCells = 8, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall $recall")
  }

  test("grid IVF: full probe equals brute force exactly; partial probe recalls") {
    val rng = new scala.util.Random(29)
    val vecs = (0L until 300L).map(i =>
      (i, Seq.fill(16)(rng.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val queries = vecs.filter($"vec_id" < 10)
    val exact = Ann.bruteForceTopK(queries, vecs, "vec_id", "embedding", 5)
      .collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    // nProbe >= 2^bits probes every cell -> the grid path must reproduce
    // brute force EXACTLY (ranks, ids, bit-identical cosines)
    val full = Ann.gridTopK(queries, vecs, "vec_id", "embedding", k = 5,
        bits = 3, nProbe = 8)
      .collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(full == exact)
    // partial probe: sub-quadratic candidate set, still decent recall
    val part = Ann.gridTopK(queries, vecs, "vec_id", "embedding", k = 5,
        bits = 6, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val pRecall = (exact.map(t => (t._1, t._3)) intersect part).size.toDouble /
      exact.size
    assert(pRecall >= 0.5, s"recall $pRecall")
  }

  test("IVF near-dup pairs: exact cosines, high recall vs the exact kernel") {
    val rng = new scala.util.Random(7)
    // clustered data: near-dups are perturbed copies, so cells capture them
    val base = (0 until 30).map(_ => Seq.fill(16)(rng.nextGaussian()))
    val vecs = (0L until 300L).map { i =>
      val b = base((i % 30).toInt)
      (i, b.map(x => (x + rng.nextGaussian() * 0.05).toFloat))
    }.toDF("vec_id", "embedding")
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = pairSet(Dedup.embeddingNearDupPairs(vecs, "vec_id",
      "embedding", threshold = 0.98))
    val ivf = pairSet(Dedup.embeddingNearDupPairsIvf(vecs, "vec_id",
      "embedding", threshold = 0.98, nCells = 8))
    assert(exact.nonEmpty)
    // every IVF pair is a true pair with the exact cosine value
    ivf.foreach { case (k, c) =>
      assert(exact.contains(k), s"false positive $k")
      assert(math.abs(exact(k) - c) < 1e-9)
    }
    val recall = ivf.keySet.intersect(exact.keySet).size.toDouble / exact.size
    assert(recall >= 0.7, s"recall $recall")
  }

  test("TF-IDF: hand-computed values on a two-doc corpus") {
    val corpus = Seq((1L, "a b a"), (2L, "a c")).toDF("doc_id", "text")
    val out = Relevance.tfIdf(corpus, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // N=2; dl(1)=3, dl(2)=2; df(a)=2, df(b)=df(c)=1
    val (tfA1, dfA, vA1) = out((1L, "a"))
    assert(tfA1 == 2 && dfA == 2)
    assert(math.abs(vA1 - 2.0 / 3.0 * (math.log(3.0 / 3.0) + 1.0)) < 1e-12)
    val (_, _, vB1) = out((1L, "b"))
    assert(math.abs(vB1 - 1.0 / 3.0 * (math.log(3.0 / 2.0) + 1.0)) < 1e-12)
    val (_, _, vC2) = out((2L, "c"))
    assert(math.abs(vC2 - 1.0 / 2.0 * (math.log(3.0 / 2.0) + 1.0)) < 1e-12)
  }

  test("BM25: hand-computed score, higher tf wins at equal length") {
    val corpus = Seq((1L, "a b a"), (2L, "a c"), (3L, "b c d")).toDF("doc_id", "text")
    val out = Relevance.bm25(corpus, "doc_id", "text", Seq("a")).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(out.keySet == Set(1L, 2L)) // doc 3 has no query term
    // N=3, avgdl=8/3, df(a)=2, idf=ln(1 + 1.5/2.5)
    val idf = math.log(1.0 + (3.0 - 2.0 + 0.5) / 2.5)
    def score(tf: Double, dl: Double) =
      idf * (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (8.0 / 3.0)))
    assert(math.abs(out(1L)._1 - score(2.0, 3.0)) < 1e-12)
    assert(math.abs(out(2L)._1 - score(1.0, 2.0)) < 1e-12)
    assert(out(1L)._1 > out(2L)._1)
    assert(out(1L)._2 == 1L)
  }

  test("repetition stats flag a degenerate looping doc") {
    val corpus = Seq(
      (1L, "x y z x y z x y z"),       // 7 trigrams, 3 distinct
      (2L, "all words here are unique today")) // 4 trigrams, all distinct
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats(corpus, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(out(1L)._1 == 7 && out(1L)._2 == 3)
    assert(math.abs(out(1L)._3 - (1.0 - 3.0 / 7.0)) < 1e-12)
    assert(math.abs(out(1L)._4 - 3.0 / 7.0) < 1e-12)
    assert(out(2L)._1 == 4 && out(2L)._2 == 4)
    assert(out(2L)._3 == 0.0)
    assert(out(1L)._3 > out(2L)._3)
  }

  test("language ID matches the stopword-dominant language") {
    val preds = docs.select($"doc_id", $"lang", TextAnalysis.langId($"text"))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(preds(0L) == "en" && preds(2L) == "de" && preds(3L) == "es")
  }

  test("fingerprint is word-order insensitive and content sensitive") {
    val d2 = Seq(
      (0L, "alpha beta gamma"), (1L, "gamma alpha beta"),
      (2L, "alpha beta delta")).toDF("doc_id", "text")
    val fps = TextAnalysis.fingerprint(d2, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(0L) == fps(1L))
    assert(fps(0L) != fps(2L))
  }

  test("quality score is in [0,1] and penalizes punctuation soup") {
    val d2 = Seq((0L, "the cat sat on the mat and the dog ran to the park"),
      (1L, ";;;!!!...,,,;;;")).toDF("doc_id", "text")
    val cols = TextAnalysis.qualityCols($"text")
    val out = d2.select(($"doc_id" +: cols.map { case (n, c) => c.as(n) }): _*)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("quality_score")).toMap
    assert(out(0L) > out(1L))
    assert(out.values.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("image decode: real javax.imageio golden values across PNG/JPEG/BMP") {
    // golden image: 8x6, left half pure black, right half pure white
    val img = new java.awt.image.BufferedImage(8, 6,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 6; x <- 0 until 8)
      img.setRGB(x, y, if (x < 4) 0x000000 else 0xffffff)
    def encode(fmt: String): Array[Byte] = {
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, baos)
      baos.toByteArray
    }
    // PNG and BMP are lossless: the luma histogram is exactly half bin 0
    // (luma 0), half the top bin (luma 255 -> bin 15)
    for (fmt <- Seq("png", "bmp")) {
      val f = Multimodal.decodeImage(encode(fmt), histBins = 16).get
      assert(f.width == 8 && f.height == 6 && f.channels == 3, fmt)
      assert(math.abs(f.lumaHist(0) - 0.5) < 1e-12, fmt)
      assert(math.abs(f.lumaHist(15) - 0.5) < 1e-12, fmt)
      assert(math.abs(f.lumaHist.sum - 1.0) < 1e-12, fmt)
    }
    // JPEG is lossy: dimensions and channel count are exact; the
    // histogram still sums to 1 and decode is deterministic
    val jf1 = Multimodal.decodeImage(encode("jpg"), histBins = 16).get
    val jf2 = Multimodal.decodeImage(encode("jpg"), histBins = 16).get
    assert(jf1.width == 8 && jf1.height == 6)
    assert(math.abs(jf1.lumaHist.sum - 1.0) < 1e-12)
    assert(jf1.lumaHist.toSeq == jf2.lumaHist.toSeq)
    // non-image payloads decode to None, never throw
    assert(Multimodal.decodeImage("not an image".getBytes).isEmpty)
    assert(Multimodal.decodeImage(Array.empty[Byte]).isEmpty)
    assert(Multimodal.decodeImage(null).isEmpty)
  }

  test("imageFeatures: synthesized PNGs decode distributed, exactly and deterministically") {
    val media = Multimodal.synthesizePng(docs, "doc_id", "text")
    val feats = Multimodal.imageFeatures(media, histBins = 16).collect()
    assert(feats.length == 6)
    assert(feats.forall(_.getAs[Boolean]("decode_ok")))
    val byId = feats.map(r => r.getLong(0) -> r).toMap
    // synthesized dims: width 4 + id%13, height 4 + id%7
    for (id <- 0L to 5L) {
      assert(byId(id).getAs[Int]("width") == 4 + (id % 13).toInt)
      assert(byId(id).getAs[Int]("height") == 4 + (id % 7).toInt)
      assert(byId(id).getAs[Int]("channels") == 3)
    }
    // identical text + same dims would collide, but ids 0/4 differ in
    // dims; same-id re-synthesis is bit-identical (PNG lossless)
    val again = Multimodal.imageFeatures(
      Multimodal.synthesizePng(docs, "doc_id", "text"), histBins = 16).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](7).toVector).toMap
    assert(again == feats.map(r => r.getLong(0) -> r.getSeq[Double](7).toVector).toMap)
    // content sensitivity: docs 0 and 1 share dims (both 4+0=4? no:
    // id 0 -> 4x4, id 1 -> 5x5) — compare against a text-mutated copy
    // with the SAME id instead
    val mutated = docs.withColumn("text",
      org.apache.spark.sql.functions.concat(org.apache.spark.sql.functions.col("text"),
        org.apache.spark.sql.functions.lit(" zzz")))
    val mutFeats = Multimodal.imageFeatures(
      Multimodal.synthesizePng(mutated, "doc_id", "text"), histBins = 16).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](7).toVector).toMap
    assert(mutFeats(0L) != again(0L))
  }

  test("audio decode: real javax.sound.sampled golden values on PCM sines") {
    // golden: 1 s of 1 kHz sine at 8 kHz, amplitude 0.5, 16-bit mono
    def sineWav(sr: Int, n: Int, freq: Double, amp: Double): Array[Byte] = {
      val pcm = new Array[Byte](n * 2)
      for (i <- 0 until n) {
        val s = (amp * math.sin(2.0 * math.Pi * freq * i / sr) * 32767.0).toInt
        pcm(2 * i) = (s & 0xff).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(sr.toFloat, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
      val baos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
      baos.toByteArray
    }
    val f = Multimodal.decodeWav(sineWav(8000, 8000, 1000.0, 0.5)).get
    assert(f.sampleRate == 8000.0 && f.channels == 1 && f.nFrames == 8000L)
    assert(math.abs(f.durationSec - 1.0) < 1e-12)
    // sine RMS = amp/sqrt(2); ZCR = 2 crossings per cycle = 2f/sr
    assert(math.abs(f.rms - 0.5 / math.sqrt(2.0)) < 0.005, s"rms ${f.rms}")
    assert(math.abs(f.zcr - 0.25) < 0.01, s"zcr ${f.zcr}")
    assert(math.abs(f.peak - 0.5) < 0.001, s"peak ${f.peak}")
    // 8-bit unsigned constant half-scale signal: rms == peak == 0.5, no
    // crossings
    val pcm8 = Array.fill(1000)(192.toByte) // (192-128)/128 = 0.5
    val fmt8 = new javax.sound.sampled.AudioFormat(8000f, 8, 1, false, false)
    val ais8 = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm8), fmt8, 1000L)
    val baos8 = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais8,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, baos8)
    val f8 = Multimodal.decodeWav(baos8.toByteArray).get
    assert(math.abs(f8.rms - 0.5) < 1e-12 && math.abs(f8.peak - 0.5) < 1e-12)
    assert(f8.zcr == 0.0 && f8.nFrames == 1000L)
    // truncation cap bounds the work but keeps header-level totals
    val fCap = Multimodal.decodeWav(sineWav(8000, 8000, 1000.0, 0.5),
      maxFrames = 800).get
    assert(fCap.nFrames == 8000L && math.abs(fCap.durationSec - 1.0) < 1e-12)
    assert(math.abs(fCap.rms - 0.5 / math.sqrt(2.0)) < 0.01)
    // non-audio payloads decode to None, never throw
    assert(Multimodal.decodeWav("not audio".getBytes).isEmpty)
    assert(Multimodal.decodeWav(Array.empty[Byte]).isEmpty)
    assert(Multimodal.decodeWav(null).isEmpty)
  }

  test("audioFeatures: synthesized WAVs decode distributed, deterministic, content-sensitive") {
    val media = Multimodal.synthesizeWav(docs, "doc_id", "text")
    val feats = Multimodal.audioFeatures(media).collect()
    assert(feats.length == 6)
    assert(feats.forall(_.getAs[Boolean]("decode_ok")))
    feats.foreach { r =>
      assert(r.getAs[Double]("sample_rate") == 8000.0)
      assert(r.getAs[Long]("n_frames") == 400L)
      assert(math.abs(r.getAs[Double]("duration_sec") - 0.05) < 1e-12)
      // amplitude in [0.25, 0.75) -> rms in a sane band, peak <= 0.75
      assert(r.getAs[Double]("rms") > 0.1 && r.getAs[Double]("rms") < 0.6)
    }
    def rmsById(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getLong(0) -> r.getAs[Double]("rms")).toMap
    val first = rmsById(feats)
    // re-synthesis is bit-identical (WAV is lossless PCM)
    val again = rmsById(Multimodal.audioFeatures(
      Multimodal.synthesizeWav(docs, "doc_id", "text")).collect())
    assert(again == first)
    // text mutation (same id) changes the synthesized amplitude
    val mutated = docs.withColumn("text",
      org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.col("text"),
        org.apache.spark.sql.functions.lit(" zzz")))
    val mut = rmsById(Multimodal.audioFeatures(
      Multimodal.synthesizeWav(mutated, "doc_id", "text")).collect())
    assert(mut(0L) != first(0L))
  }

  test("ISO-BMFF parse: golden values on a hand-built MP4 container") {
    // build a container with KNOWN numbers through the synthesizer
    // (doc 2: odd id -> single video track; len("x" * 7) % 3 = 1)
    val one = Seq((3L, "x" * 7)).toDF("doc_id", "text")
    val payload = Multimodal.synthesizeMp4(one, "doc_id", "text")
      .collect()(0).getAs[Array[Byte]]("payload")
    val m = Multimodal.parseIsoBmff(payload).get
    assert(m.majorBrand == "isom")
    assert(m.timescale == 600L)
    // duration = 1 + id % 10 = 4 seconds
    assert(math.abs(m.durationSec - 4.0) < 1e-12)
    assert(m.tracks.size == 1)
    assert(m.tracks(0).handler == "vide" && m.tracks(0).codec == "avc1")
    // w = 16 * (1 + 3 % 4) = 64; h = 16 * (1 + 7 % 3) = 32
    assert(m.tracks(0).width == 64.0 && m.tracks(0).height == 32.0)
    // even id -> a second audio track
    val two = Multimodal.synthesizeMp4(
      Seq((2L, "ab")).toDF("doc_id", "text"), "doc_id", "text")
      .collect()(0).getAs[Array[Byte]]("payload")
    val m2 = Multimodal.parseIsoBmff(two).get
    assert(m2.tracks.map(_.handler) == Seq("vide", "soun"))
    assert(m2.tracks.map(_.codec) == Seq("avc1", "mp4a"))
    // 64-bit (size == 1 + largesize) moov header parses identically
    val ftypLen = (((payload(0) & 0xff) << 24) | ((payload(1) & 0xff) << 16) |
      ((payload(2) & 0xff) << 8) | (payload(3) & 0xff))
    val moovLen = payload.length - ftypLen
    val wide = new Array[Byte](payload.length + 8)
    System.arraycopy(payload, 0, wide, 0, ftypLen)
    val o = ftypLen
    wide(o + 3) = 1 // size32 == 1 -> largesize follows the type
    System.arraycopy(payload, ftypLen + 4, wide, o + 4, 4) // "moov"
    val large = (moovLen + 8).toLong
    (0 until 8).foreach(i =>
      wide(o + 8 + i) = ((large >> (8 * (7 - i))) & 0xff).toByte)
    System.arraycopy(payload, ftypLen + 8, wide, o + 16, moovLen - 8)
    val mWide = Multimodal.parseIsoBmff(wide).get
    assert(mWide.timescale == 600L && mWide.tracks.size == 1)
    // non-BMFF payloads refuse cleanly
    assert(Multimodal.parseIsoBmff("not a movie at all!!".getBytes).isEmpty)
    assert(Multimodal.parseIsoBmff(Array.empty[Byte]).isEmpty)
    assert(Multimodal.parseIsoBmff(null).isEmpty)
    // truncated container (moov cut mid-box) refuses instead of throwing
    assert(Multimodal.parseIsoBmff(
      payload.take(payload.length / 2)).isEmpty)
  }

  test("videoMetadata: synthesized MP4s parse distributed, deterministic, content-sensitive") {
    val media = Multimodal.synthesizeMp4(docs, "doc_id", "text")
    val feats = Multimodal.videoMetadata(media).collect()
    assert(feats.length == 6)
    assert(feats.forall(_.getAs[Boolean]("parse_ok")))
    val byId = feats.map(r => r.getLong(0) -> r).toMap
    // even ids carry the audio track too
    assert(byId(0L).getAs[Int]("n_tracks") == 2)
    assert(byId(1L).getAs[Int]("n_tracks") == 1)
    assert(byId(0L).getAs[collection.Seq[String]]("codecs")
      .toSeq == Seq("avc1", "mp4a"))
    // duration_sec = 1 + id % 10
    assert(byId(5L).getAs[Double]("duration_sec") == 6.0)
    // width keyed on id, height keyed on text length
    assert(byId(1L).getAs[Double]("width") == 32.0)
    // re-synthesis is bit-identical
    val again = Multimodal.videoMetadata(
      Multimodal.synthesizeMp4(docs, "doc_id", "text")).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("height")).toMap
    assert(feats.map(r => r.getLong(0) -> r.getAs[Double]("height")).toMap
      == again)
    // text mutation (same id) moves the height
    val mutated = docs.withColumn("text",
      org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.col("text"),
        org.apache.spark.sql.functions.lit(" z")))
    val mut = Multimodal.videoMetadata(
      Multimodal.synthesizeMp4(mutated, "doc_id", "text")).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("height")).toMap
    assert(mut != again)
  }

  test("streaming windowed group gap equals the batch gap") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val events = (0 until 300).map { i =>
      (i.toLong, new java.sql.Timestamp(base.getTime + i * 45000L),
        (i % 5).toLong, if (i % 3 == 0) "click" else "view",
        (if (i % 3 == 0) 10.0 else 4.0) + i * 0.01)
    }
    val batchDf = events.toDF("event_id", "ts", "user_id", "event_type", "value")
    val expected = Streams.windowedGroupGap(batchDf, "event_type", "click",
      "view", "value").collect()
      .map(r => r.getTimestamp(0) -> r.getDouble(1)).toMap
    val stream = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val sdf = stream.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = Streams.windowedGroupGap(sdf, "event_type", "click", "view",
        "value", streaming = true)
      .writeStream.format("memory").queryName("gapstats")
      .outputMode("append").start()
    stream.addData(events)
    q.processAllAvailable()
    val got = spark.sql("SELECT window_start, gap FROM gapstats").collect()
      .map(r => r.getTimestamp(0) -> r.getDouble(1)).toMap
    q.stop()
    assert(got.nonEmpty)
    got.foreach { case (k, v) => assert(math.abs(expected(k) - v) < 1e-12) }
  }

  test("streaming windowed stats equal the batch computation") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val events = (0 until 200).map { i =>
      (i.toLong, new java.sql.Timestamp(base.getTime + i * 60000L),
        (i % 7).toLong, if (i % 2 == 0) "click" else "view", i * 1.5)
    }
    val batchDf = events.toDF("event_id", "ts", "user_id", "event_type", "value")
    val expected = Streams.windowedEventStats(batchDf).collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap

    val stream = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val sdf = stream.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = Streams.windowedEventStats(sdf, streaming = true)
      .writeStream.format("memory").queryName("winstats")
      .outputMode("append").start()
    stream.addData(events)
    q.processAllAvailable()
    // append mode emits only windows closed by the watermark; every
    // emitted row must match the batch result exactly
    val got = spark.sql("SELECT * FROM winstats").collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    q.stop()
    assert(got.nonEmpty)
    got.foreach { case (k, v) => assert(expected(k) == v, s"window $k") }
  }

  test("streaming as-of enrichment: batch == stream == AsOf.joinBackward") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    val rng = new scala.util.Random(5)
    val events = (0 until 400).map { i =>
      graft.streaming.AsOfEvent("k" + rng.nextInt(6),
        1000000L + rng.nextInt(500) * 1000L,
        if (i % 3 == 0) 1 else 0, i.toLong, i * 0.5)
    }.sortBy(e => (e.tsMs, e.side, e.tiebreak)) // in-order arrival
    // local brute-force reference
    val byKey = events.groupBy(_.key)
    val want = events.filter(_.side == 1).map { l =>
      val m = byKey(l.key)
        .filter(r => r.side == 0 && r.tsMs <= l.tsMs)
        .sortBy(r => (r.tsMs, r.tiebreak)).lastOption
      (l.key, l.tsMs, l.value) -> m.map(r => (r.tsMs, r.value))
    }.toMap
    def toMapOut(js: Array[graft.streaming.AsOfJoined]) = js.map(j =>
      (j.key, j.tsMs, j.value) ->
        j.matchTsMs.flatMap(t => j.matchValue.map(v => (t, v)))).toMap

    // 1. the state function run as one batch
    assert(toMapOut(Streams.streamingAsOf(events.toDS()).collect()) == want)

    // 2. the batch as-of join on the same data
    val leftDf = events.filter(_.side == 1)
      .map(e => (e.key, new java.sql.Timestamp(e.tsMs), e.value))
      .toDF("key", "t", "v")
    val rightDf = events.filter(_.side == 0)
      .map(e => (e.key, new java.sql.Timestamp(e.tsMs), e.tiebreak, e.value))
      .toDF("key", "t", "tb", "w")
    val viaJoin = graft.ext.AsOf.joinBackward(leftDf, rightDf, Seq("key"),
        "t", "t", Seq("w"), tiebreak = Some("tb")).collect()
      .map { r =>
        val m = if (r.isNullAt(3)) None
          else Some((r.getTimestamp(3).getTime, r.getDouble(4)))
        (r.getString(0), r.getTimestamp(1).getTime, r.getDouble(2)) -> m
      }.toMap
    assert(viaJoin == want)

    // 3. incremental micro-batches (in order) through MemoryStream,
    // WITH a watermark so the state-eviction path executes (lookback
    // covers the whole span, so results must be unchanged)
    val stream = MemoryStream[graft.streaming.AsOfEvent]
    val watermarked = stream.toDS()
      .withColumn("et", timestamp_millis($"tsMs"))
      .withWatermark("et", "1 second")
      .as[graft.streaming.AsOfEvent]
    val q = Streams.streamingAsOf(watermarked)
      .writeStream.format("memory").queryName("asofstream")
      .outputMode("append").start()
    val (b1, b2) = events.splitAt(events.size / 2)
    stream.addData(b1)
    q.processAllAvailable()
    stream.addData(b2)
    q.processAllAvailable()
    val got = spark.sql("SELECT * FROM asofstream").as[graft.streaming.AsOfJoined]
      .collect()
    q.stop()
    assert(toMapOut(got) == want)

    // 4. the documented caveat: a right event arriving a micro-batch
    // LATER than the left event it precedes cannot retro-match
    val lateStream = MemoryStream[graft.streaming.AsOfEvent]
    val q2 = Streams.streamingAsOf(lateStream.toDS())
      .writeStream.format("memory").queryName("asoflate")
      .outputMode("append").start()
    lateStream.addData(Seq(graft.streaming.AsOfEvent("x", 2000L, 1, 0L, 1.0)))
    q2.processAllAvailable()
    lateStream.addData(Seq(graft.streaming.AsOfEvent("x", 1000L, 0, 1L, 9.0),
      graft.streaming.AsOfEvent("x", 3000L, 1, 2L, 2.0)))
    q2.processAllAvailable()
    val late = spark.sql("SELECT * FROM asoflate").as[graft.streaming.AsOfJoined]
      .collect().map(j => j.tsMs -> j.matchValue).toMap
    q2.stop()
    assert(late(2000L).isEmpty) // left before the right arrived: no match
    assert(late(3000L).contains(9.0)) // later left sees the buffered right
  }

  test("streaming dedup drops in-watermark duplicates, keeps distinct keys") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    // 60 events, 20 distinct texts, duplicates arrive within minutes
    val events = (0 until 60).map { i =>
      (i.toLong, new java.sql.Timestamp(base.getTime + i * 60000L),
        s"text-${i % 20}")
    }
    val stream = MemoryStream[(Long, java.sql.Timestamp, String)]
    val sdf = stream.toDF().toDF("event_id", "ts", "text")
      .withColumn("text_md5", md5($"text"))
    val q = Streams.streamingDedup(sdf, Seq("text_md5"))
      .writeStream.format("memory").queryName("dedupstream")
      .outputMode("append").start()
    stream.addData(events)
    q.processAllAvailable()
    val got = spark.sql("SELECT text FROM dedupstream").collect()
      .map(_.getString(0))
    q.stop()
    // exactly one row per distinct text, and it is the FIRST arrival
    assert(got.sorted.toSeq == (0 until 20).map(i => s"text-$i").sorted)
    // batch path agrees on the distinct-key count
    val batch = Streams.streamingDedup(
      events.toDF("event_id", "ts", "text")
        .withColumn("text_md5", md5($"text")),
      Seq("text_md5"), streaming = false)
    assert(batch.count() == 20)
  }
}
