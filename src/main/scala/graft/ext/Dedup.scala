package graft.ext

import graft.core.Jobs
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** Deduplication operators for training-data pipelines, all expressed as
  * shuffle-efficient DataFrame transformations:
  *
  * - exact: hash-groupBy on md5(text), keep the minimum id;
  * - n-gram Jaccard: word-shingle inverted index self-join, exact
  *   Jaccard on distinct shingle sets;
  * - MinHash + LSH banding: engine-portable md5-derived hash family,
  *   per-doc signatures by groupBy-min, band buckets, bucket join for
  *   candidates, exact-Jaccard verification;
  * - SimHash: sign-aggregated 16-bit signatures, near-dup if Hamming
  *   distance <= maxHamming;
  * - embedding cosine: pairwise cosine over `array<float>` columns.
  *
  * The md5-based hash family (`TextAnalysis.hash56`) is reproducible in
  * ANSI SQL, so every operator here is oracle-checkable.
  */
object Dedup {

  /** Distinct word shingles (n-grams joined by single spaces) per doc.
    * Documents with fewer than n tokens produce no shingles.
    *
    * The tokenize+explode multiplies each doc into hundreds of rows, so
    * a small-file corpus scan (few partitions) would serialize all that
    * work on one core; fan the INPUT out by id hash first when the scan
    * has too little parallelism ([[Jobs.fanOutBy]]: deterministic row
    * placement at a fixed partition count). */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val in = Jobs.fanOutBy(df, idCol)
    in.select(col(idCol), split(col(textCol), "\\s+").as("__toks__"))
      .filter(size(col("__toks__")) >= n)
      .select(col(idCol), explode(array_distinct(expr(
        s"""transform(sequence(0, size(__toks__) - $n),
           |  i -> concat_ws(' ', slice(__toks__, i + 1, $n)))""".stripMargin)))
        .as("shingle"))
      .filter(col("shingle") =!= "")
  }

  /** Exact duplicate groups: (md5, n_copies, min id) for texts occurring
    * more than once. */
  def exactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_md5"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keep_id"))
      .filter(col("n_copies") > 1)

  /** Exact-dedup projection: keeps the minimum-id row per distinct text. */
  def dropExactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn__", row_number().over(w))
      .filter(col("__rn__") === 1).drop("__rn__")
  }

  /** Floor (and offline fallback) for the auto-derived candidate
    * budget: the measured safe point for a single node with a 75 GB
    * /tmp (100M rows x [[CandidateRowScratchBytes]] = ~19 GB peak).
    * Kept as a named constant so replays across machines never drop
    * below it. */
  val MinCandidatePairBudget: Long = 100000000L

  /** Measured scratch bytes per candidate pair row at the PEAK of all
    * concurrent consumers. The candidate stream is simultaneously (a)
    * spilled by the pair aggregation's sort fallback, (b) written as
    * that aggregation's shuffle output, and (c) still holding the
    * inverted-index join's own shuffle files — the stages overlap, so
    * the constant must cover their SUM, not one stage. An 80 B/row
    * estimate from a single-stage measurement let a ~470M-row budget
    * exhaust a 76 GB scratch disk (>=160 B/row observed, sf10 dense
    * corpus); 192 B/row carries that measurement plus margin. */
  val CandidateRowScratchBytes: Long = 192L

  /** Crossover for the cost-based path choice in [[ngramJaccardPairs]]:
    * full-index candidate masses at or below this run the plain
    * inverted-index count (one shuffle + hash agg, ~100 B/pair of
    * scratch, sub-second at this size on 32 cores); above it the
    * prefix-filtered + verified path wins because its fixed stages
    * (rank window, set-table build, verification joins) amortize
    * against a quadratically growing saving. 50M pairs ~ 5 GB of
    * one-stage shuffle — comfortably inside any executor fleet's
    * scratch and well under [[MinCandidatePairBudget]]. Specs force
    * either path through [[ngramJaccardPairsVia]]. */
  val DirectPathMaxPairs: Long = 50000000L

  /** Threshold at or above which the prefix path indexes sorted PAIRS
    * of prefix shingles (k = 2 multi-prefix) instead of single
    * shingles. The pair index carries C(p,2)/p ~ p/2 times more rows
    * (p = prefix length, short at high thresholds), in exchange for a
    * quadratic cut of the single-shingle collision background — the
    * dominant cost on dense corpora. Below this the prefixes are long
    * enough that C(p,2) growth outweighs the saving. */
  val PairKeyMinThreshold: Double = 0.6

  /** Sentinel for `candidateBudget`: derive the budget from the
    * environment at call time — the conf key
    * `spark.graft.dedup.candidateBudget` if set, else from the free
    * space of the scratch dirs via [[scratchDerivedBudget]]. */
  val AutoCandidatePairBudget: Long = -1L

  /** Budget derived from scratch free bytes: half the free space
    * (the other half is headroom for the verify join's own shuffle
    * and everything else sharing the disk) at
    * [[CandidateRowScratchBytes]] per row, floored at
    * [[MinCandidatePairBudget]].
    * On a cluster the spill divides across executors, so free space
    * SHOULD be the aggregate scratch capacity — local mode reads the
    * one node's `spark.local.dir`; cluster deployments set the conf
    * key from their fleet math. The budget is a throughput knob, not
    * a semantic one (the guard's recall accounting is identical at
    * any budget). */
  def scratchDerivedBudget(freeBytes: Long): Long =
    math.max(MinCandidatePairBudget, freeBytes / 2 / CandidateRowScratchBytes)

  /** Resolve [[AutoCandidatePairBudget]] (any other value passes
    * through): conf key first, else scratch-dir free space. */
  def resolveCandidateBudget(spark: org.apache.spark.sql.SparkSession,
      requested: Long): Long =
    if (requested != AutoCandidatePairBudget) requested
    else spark.conf.getOption("spark.graft.dedup.candidateBudget")
      .map(_.toLong).getOrElse {
        val dirs = spark.conf.getOption("spark.local.dir")
          .orElse(sys.props.get("spark.local.dir"))
          .getOrElse(System.getProperty("java.io.tmpdir", "/tmp"))
        val free = dirs.split(",").iterator
          .map(d => new java.io.File(d).getUsableSpace).sum
        scratchDerivedBudget(free)
      }

  /** Saturating multiply: overflow pins to Long.MaxValue so budget
    * algebra can only get STRICTER, never silently permissive. */
  private def satMul(a: Long, b: Long): Long =
    try Math.multiplyExact(a, b)
    catch { case _: ArithmeticException => Long.MaxValue }

  /** Saturating add — same contract as [[satMul]]. */
  private def satAdd(a: Long, b: Long): Long =
    try Math.addExact(a, b)
    catch { case _: ArithmeticException => Long.MaxValue }

  /** d*(d-1)/2 saturating, without intermediate overflow: halve the
    * even factor. */
  private def pairsOf(d: Long): Long =
    if (d % 2 == 0L) satMul(d / 2, d - 1) else satMul(d, (d - 1) / 2)

  /** Largest df cap whose cumulative candidate mass fits the budget,
    * from the ascending per-df histogram (df value -> #shingles at
    * that df). Greedy from the cold end: dropping the hottest shingles
    * first maximizes retained candidates per budget row. Returns None
    * when the whole histogram fits (no cap needed).
    *
    * SATURATING arithmetic throughout: at exactly the scales the guard
    * exists for, `cnt * d*(d-1)/2` overflows Long (d near 1e9 gives
    * ~5e17 per shingle; ~19 such shingles wraps the accumulator
    * negative), and a wrapped `cum + mass <= budget` would silently
    * wave through the very stream the budget must bound. Overflow pins
    * to Long.MaxValue, which can only make the cap STRICTER. */
  def capForBudget(histo: Array[(Long, Long)], budget: Long): Option[Long] = {
    var cum = 0L
    var cap = 0L
    var fits = true
    histo.foreach { case (d, cnt) =>
      val mass = satMul(cnt, pairsOf(d))
      val next = satAdd(cum, mass)
      if (fits && next <= budget) { cum = next; cap = d }
      else fits = false
    }
    val maxDf = histo.lastOption.map(_._1).getOrElse(0L)
    if (cap < maxDf) Some(cap) else None
  }

  /** Recall accounting for a FIRING budget cap: (#index keys dropped,
    * estimated candidate-pair mass dropped) — the cut tail of the same
    * histogram [[capForBudget]] chose the cap from. Saturating algebra
    * like the cap itself (a saturated mass prints as Long.MaxValue,
    * which reads correctly as "astronomically many"). By construction
    * the dropped mass is > 0 exactly when [[capForBudget]] returns
    * Some: the cap is the largest df whose cumulative mass fits, so at
    * least one hotter histogram entry was cut. A 100 TB operator reads
    * this next to the cap value to judge the recall tradeoff instead of
    * discovering it from a diff. */
  def droppedAboveCap(histo: Array[(Long, Long)], cap: Long): (Long, Long) =
    histo.iterator.filter(_._1 > cap).foldLeft((0L, 0L)) {
      case ((keys, mass), (d, cnt)) =>
        (satAdd(keys, cnt), satAdd(mass, satMul(cnt, pairsOf(d))))
    }


  /** Ceiling (estimated bytes) for broadcasting the per-doc shingle-set
    * table in exact verification (~2.5 GB estimate, i.e. ~2x that
    * across the two join sides): ~3x under Spark's 8 GB broadcast hard
    * cap. [[jaccardPlan]] further gates it at 1/4 of the JVM's max heap
    * — the estimate sits on BOTH join sides and the HashedRelation
    * build is often larger than the 2x-fudged estimate, so on a
    * modest-heap driver/executor an ungated 2.5 GB ceiling would OOM
    * where sort-merge spills and completes. Past the ceiling the verify
    * falls back to sort-merge and the candidate budget shrinks by the
    * array carry instead. */
  val DefaultSetBroadcastBytes: Long = 2500000000L

  /** Physical route of an exact-Jaccard call: the plain inverted-index
    * count, or the prefix path with its candidates verified by the
    * single-broadcast kernel, by two broadcast joins, or by sort-merge
    * (see [[exactInterByArrays]]). Every route gives the same pairs and
    * Jaccard values. */
  private[graft] sealed trait Route
  private[graft] object Route {
    case object Direct extends Route
    case object Kernel extends Route
    case object BroadcastJoins extends Route
    case object SortMerge extends Route
  }
  import Route._

  /** Per-df histogram of a (shingle, df) table under the given df
    * column name. #distinct df VALUES is tiny at any corpus size, so
    * the budget scan is driver-side algebra over this array. */
  private def dfHistogram(tab: DataFrame, dfCol: String): Array[(Long, Long)] =
    tab.groupBy(col(dfCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)

  /** Prefix-filtered candidate-key index (Chaudhuri et al., ICDE'06;
    * Bayardo et al., WWW'07) — recall-LOSSLESS for threshold-t
    * Jaccard. Shingles get a global total order (full-corpus df
    * ascending, hashed shingle as tie-break: rarest first, which
    * minimizes prefix collisions); each doc indexes only its first
    * p = |A| - ceil(t*|A|) + k shingles in that order. Any pair with
    * J >= t has intersection >= ceil(t*max(|A|,|B|)) and therefore
    * shares at least k shingles inside both k-extended prefixes (the
    * multi-prefix lemma behind adaptive prefix joins — Wang et al.,
    * SIGMOD'12; k = 1 is the classic prefix lemma), using the
    * conservative per-doc alpha = ceil(t*|A|), which the length
    * filter's |B| >= t*|A| makes valid pairwise. The epsilon in the
    * ceil guards float raggedness by erring toward LONGER prefixes —
    * losslessness is never at risk, only pruning power.
    *
    * PLAN SHAPE (round 15): ONE groupBy builds per-doc rarity-sorted
    * shingle arrays (`sort_array(collect_list(struct(df, shingle)))`),
    * and prefixes/ranks/sizes/2-subsets all derive from the array with
    * codegen-free but shuffle-free higher-order functions. This
    * replaces the old rank window (a full row-sort of the joined
    * shingle table) plus, for the pair scheme, a per-doc self-join —
    * three of the pipeline's heaviest stages collapse into one
    * doc-count-sized aggregation whose checkpoint is one row per doc.
    * Ordering is bit-identical to the window it replaces: struct sort
    * by (fdf, shingle) == the window's orderBy, and rk = 1-based array
    * position == row_number.
    *
    * Emits (id, __key__: long, __sz__, __rk1__ <= __rk2__). Keys are
    * xxhash64 of the shingle hash(es) — a hash COLLISION can only ADD
    * a candidate that exact verification then rejects, never lose one,
    * so 8-byte keys are safe and keep the self-join narrow.
    *
    * Thresholds at or above [[PairKeyMinThreshold]] get the pair
    * scheme: on a closed-vocabulary corpus the single-shingle
    * background is the whole cost, and single-shingle prefixes barely
    * dent it (measured 6.3x at sf10 vs ~1000x for pair keys).
    *
    * Single scheme (k = 1 prefix): one key per prefix shingle,
    * rk1 == rk2. Pair scheme (k = 2 prefix): one key per sorted
    * 2-subset of the prefix — lossless because a qualifying pair's two
    * globally-smallest shared shingles sit inside both k=2 prefixes —
    * plus a tiny-doc fallback: a pair whose required overlap is < 2
    * (possible only when |A|+|B| <= (1+t)/t) cannot promise a shared
    * 2-subset, so docs that small also emit their k=1 single keys.
    *
    * `maxShingleDf` drops above-cap shingles from the indexed prefix
    * AFTER ranks are assigned on the full ordered set (exactly the old
    * post-window filter semantics). `allSingles`: under the pair
    * scheme, ALSO emit every doc's k=1 single keys (over the k=1 prefix
    * bound) — used when the explicit cap FIRES, restoring the capped k=1 path's recall
    * exactly (a pair sharing exactly ONE cold shingle would otherwise
    * vanish under the pair scheme); the extra mass is still priced by
    * the budget guard, which sees the unioned key index. */
  private def keyIndexFused(sh: DataFrame, dfTab: DataFrame, idCol: String,
      threshold: Double, maxShingleDf: Option[Long],
      allSingles: Boolean): DataFrame = {
    // one row per doc; checkpointed because the downstream key join (and
    // the pair/singles union) reads the index more than once, and this
    // is the cheapest point in the pipeline to cut lineage
    val arr = sh.join(dfTab, "shingle")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("__fdf__"), col("shingle"))))
        .as("__ord__"))
      .select(col(idCol), col("__ord__"),
        size(col("__ord__")).cast("long").as("__sz__"))
      .localCheckpoint()
    val capPred = maxShingleDf.map(c => s"x.fdf <= ${c}L").getOrElse("true")
    // rank-annotated, cap-filtered k-extended prefix of the ordered set
    def prefCol(kk: Int): String =
      s"""filter(transform(
         |    slice(__ord__, 1,
         |      cast(__sz__ - ceil($threshold * __sz__ - 1e-9d) + $kk as int)),
         |    (e, i) -> named_struct('rk', i + 1, 'fdf', e.__fdf__,
         |                           's', e.shingle)),
         |  x -> $capPred)""".stripMargin
    def singles(docPred: String) =
      arr.filter(expr(docPred))
        .select(col(idCol), col("__sz__"), explode(expr(prefCol(1))).as("__e__"))
        .select(col(idCol),
          xxhash64(lit("1"), col("__e__.s")).as("__key__"), col("__sz__"),
          col("__e__.rk").as("__rk1__"), col("__e__.rk").as("__rk2__"))
    if (threshold < PairKeyMinThreshold) singles("true")
    else {
      val pairs = arr
        .withColumn("__pr__", expr(prefCol(2)))
        .select(col(idCol), col("__sz__"), explode(expr(
          """flatten(transform(__pr__, (a, i) ->
            |  transform(slice(__pr__, i + 2, size(__pr__)), b ->
            |    named_struct('rk1', a.rk, 'rk2', b.rk,
            |                 's1', a.s, 's2', b.s))))""".stripMargin))
          .as("__e__"))
        .select(col(idCol),
          xxhash64(lit("2"), col("__e__.s1"), col("__e__.s2")).as("__key__"),
          col("__sz__"), col("__e__.rk1").as("__rk1__"),
          col("__e__.rk2").as("__rk2__"))
      val smallMax = (1.0 / threshold + 1e-9).toLong
      pairs.unionByName(singles(
        if (allSingles) "true" else s"__sz__ <= ${smallMax}L"))
    }
  }

  /** The exact-Jaccard plan [[jaccardPlan]] derives from one full-corpus
    * df histogram. On the prefix path: `nHotExplicit` shingles sit above
    * the explicit cap; `why` names the set-table estimate, broadcast
    * ceiling and heap gate that chose the verify `route`; `effBudget` is
    * the candidate budget after the carry shrink; `keyHisto` and
    * `budgetCap` price the key index when that budget may bind; and
    * `index` is the capped key index the candidate join reads.
    * `probeKernel`: a cost-based broadcast-joins route still takes the
    * kernel if the semi-join-reduced sets fit [[heapGate]]. */
  private case class JaccardPlan(sh: DataFrame, route: Route,
      probeKernel: Boolean = false, nHotExplicit: Long = 0L,
      why: String = "", effBudget: Option[Long] = None,
      keyHisto: Option[Array[(Long, Long)]] = None,
      budgetCap: Option[Long] = None, index: Option[DataFrame] = None)

  /** A quarter of the JVM's max heap: the gate of the verify kernel's
    * driver-side map and the cap on the set-table broadcast ceiling. */
  private def heapGate: Long = Runtime.getRuntime.maxMemory / 4

  /** Plan an exact-Jaccard call — the one place [[ngramJaccardPairs]]
    * and [[effectiveCapFor]] take their route and guard decisions from.
    * `force` replaces the cost-based route (the direct path still needs
    * both guards idle); `forJoin` builds the key index the candidate
    * join reads, checkpointing it (and its df table) when it is priced,
    * since the join then reads both again. */
  private def jaccardPlan(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxShingleDf: Option[Long],
      budget: Option[Long], force: Option[Route],
      forJoin: Boolean): JaccardPlan = {
    // shingle STRINGS become xxhash64 LONGS at ingest: every
    // downstream structure (inverted-index join keys, rank window,
    // verification set arrays) gets severalfold cheaper to shuffle,
    // sort, and intersect. A hash collision merges two shingles
    // CORPUS-WIDE (both docs' sets and every intersection see the
    // merge consistently), perturbing one Jaccard value by ~1/|set|
    // with probability ~vocab^2/2^64 — ~1e-8 even at a billion-shingle
    // vocabulary, and an occurrence would surface as an oracle hash
    // mismatch rather than pass silently.
    val sh = shingles(df, idCol, textCol, n)
      .select(col(idCol), xxhash64(col("shingle")).as("shingle"))
      .localCheckpoint()
    // full-corpus df: the global rarity order for prefix filtering,
    // the space the explicit hot-key cap lives in, and (as a tiny
    // driver histogram) the cost model that picks the physical path.
    // NOT checkpointed: the direct path touches only the histogram,
    // and the prefix path reads the table exactly once (its __fdf__
    // column then rides on every prefix row).
    val dfTab = sh.groupBy(col("shingle"))
      .agg(count(lit(1)).as("__fdf__"))
    val histo = dfHistogram(dfTab, "__fdf__")
    val nHot = maxShingleDf.fold(0L)(cap =>
      histo.iterator.filter(_._1 > cap).map(_._2).sum)
    val retainedMass = histo.iterator
      .filter { case (d, _) => maxShingleDf.forall(d <= _) }
      .map { case (d, cnt) => satMul(cnt, pairsOf(d)) }
      .foldLeft(0L)(satAdd)
    // COST-BASED PATH CHOICE. When no guard fires and the full
    // inverted-index candidate mass is small, the plain index self-join
    // + pair count IS the fastest plan: its per-pair cost is one
    // hash-agg row, and the prefix path's fixed stages (set-table
    // build, verification) cost more than the mass they would save.
    // Past the crossover the prefix path wins quadratically.
    if (nHot == 0L && budget.forall(_ >= retainedMass) &&
        force.fold(retainedMass <= DirectPathMaxPairs)(_ == Direct))
      return JaccardPlan(sh, Direct)
    // set-table bytes from the histogram (total shingle rows x 16 B/elem
    // x 2 overhead). Kernel when its BOXED driver map (up to ~3x the
    // estimate on many-small-doc corpora) fits a quarter heap; broadcast
    // joins (executor-side builds) up to the ceiling; sort-merge past it.
    val setBytesEst = satMul(32L, histo.iterator
      .map { case (d, c) => satMul(d, c) }.foldLeft(0L)(satAdd))
    val ceiling = math.min(DefaultSetBroadcastBytes, heapGate)
    val route = force.filter(_ != Direct).getOrElse(
      if (setBytesEst > ceiling) SortMerge
      else if (satMul(3L, setBytesEst) <= heapGate) Kernel
      else BroadcastJoins)
    // the verify route feeds back into the budget: a sort-merge verify
    // ALSO drags ~2x avg-set-bytes per surviving candidate through its
    // second shuffle — at 1 KB sets that dwarfs the 192 B/row model, so
    // the budget shrinks by that carry ratio or the guard bounds the
    // wrong quantity (the sf10 failure mode: candidates fit, the verify
    // shuffle did not)
    val effBudget = budget.map { b =>
      if (route != SortMerge) b
      else {
        val carry = 2L * setBytesEst / math.max(1L, df.count())
        math.max(1000000L, (b.toDouble * CandidateRowScratchBytes /
          (CandidateRowScratchBytes + carry)).toLong)
      }
    }
    // full-index mass bounds every key-index mass from above, so when
    // it fits the budget no key pricing runs at all
    val mayBind = effBudget.exists(capForBudget(histo, _).nonEmpty)
    val keys = if (!forJoin && !mayBind) None else {
      val k = keyIndexFused(sh, dfTab, idCol, threshold, maxShingleDf,
        allSingles = nHot > 0L)
      Some(if (forJoin && mayBind) k.localCheckpoint() else k)
    }
    // budget guard priced on the KEY index the join reads — the filters
    // shrink the real mass far below the full-index upper bound, so the
    // cap binds only against work the join would actually do
    val keyTab = keys.filter(_ => mayBind).map { k =>
      val t = k.groupBy(col("__key__")).agg(count(lit(1)).as("__pdf__"))
      if (forJoin) t.localCheckpoint() else t
    }
    val keyHisto = keyTab.map(dfHistogram(_, "__pdf__"))
    val budgetCap =
      for (b <- effBudget; h <- keyHisto; cap <- capForBudget(h, b)) yield cap
    val index = keys.filter(_ => forJoin).map(k => budgetCap.fold(k)(cap =>
      k.join(keyTab.get.filter(col("__pdf__") > cap).select(col("__key__")),
        Seq("__key__"), "left_anti")))
    JaccardPlan(sh, route, route == BroadcastJoins && !force.contains(route),
      nHot, s"set estimate $setBytesEst B, ceiling $ceiling B, heap gate " +
        s"$heapGate B", effBudget, keyHisto, budgetCap, index)
  }

  /** Whether (and at what df value) a guard of [[ngramJaccardPairs]]
    * would drop shingles for these inputs — its plan only, no candidate
    * generation. None means NO shingle is dropped by either guard (the
    * explicit full-df cap or the budget-derived prefix-df cap); the Some
    * value is informational (the lower of the two caps, which live in
    * different df spaces). Exists so correctness harnesses can PIN that
    * an oracle-compared configuration runs unguarded (a firing guard
    * changes which pairs are discovered, which is exactly what the
    * oracle hashes). */
  def effectiveCapFor(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxShingleDf: Option[Long],
      candidateBudget: Option[Long]): Option[Long] = {
    val budget = candidateBudget.map(resolveCandidateBudget(df.sparkSession, _))
    if (maxShingleDf.isEmpty && budget.isEmpty) None
    else Jobs.labeled(df.sparkSession, "dedup: effective cap") {
      val plan = jaccardPlan(df, idCol, textCol, n, threshold, maxShingleDf,
        budget, force = None, forJoin = false)
      (maxShingleDf.filter(_ => plan.nHotExplicit > 0L) ++ plan.budgetCap)
        .reduceOption(_ min _)
    }
  }

  /** Exact pairwise Jaccard over shared-shingle candidates:
    * (id_a < id_b, jaccard) for jaccard >= threshold.
    *
    * CANDIDATE GENERATION is the scale story. A naive inverted-index
    * self-join generates sum over shingles of df*(df-1)/2 rows, which
    * is QUADRATIC in corpus density: a closed shingle vocabulary
    * (boilerplate, template text, adversarially dense synthetic
    * corpora) grows that mass 100x per 10x docs (measured: 112M pairs
    * at 500k-doc sf1 vs 12.3B at sf10 on the same ~30k-shingle
    * vocabulary). The physical plan is chosen COST-BASED from a
    * driver-side df histogram: below [[DirectPathMaxPairs]] of
    * candidate mass the plain inverted-index count runs (cheapest at
    * small mass — no verification join needed since intersections come
    * out exact); above it, three RECALL-LOSSLESS filters cut the mass
    * before any guard has to fire:
    *
    * - prefix filtering ([[keyIndexFused]]): only the first
    *   |A| - ceil(t*|A|) + 1 shingles per doc (rarest-first global
    *   order) are indexed — at t = 0.8 that is ~1/5 of the rows and
    *   ~1/25 of the per-shingle join mass;
    * - length filtering: candidates must satisfy
    *   min(|A|,|B|) >= t * max(|A|,|B|) (J <= min/max), applied on the
    *   join output before the pair aggregation;
    * - positional filtering (PPJoin, Xiao et al., WWW'08): a shared
    *   shingle at ranks (ra, rb) bounds the full intersection by
    *   min(ra-1, rb-1) + 1 + min(|A|-ra, |B|-rb). Each shared key's
    *   bound is individually valid, so rows whose own bound already
    *   misses the required overlap t*(|A|+|B|)/(1+t) are dropped
    *   BEFORE the pair aggregation (shrinking its spill-prone input),
    *   and the aggregated min-bound prunes surviving pairs before the
    *   (array-carrying) verification join. A pair kept only because
    *   its failing rows were pre-dropped is truly non-qualifying and
    *   dies in exact verification — output unchanged.
    *
    * Verification then recomputes intersections EXACTLY over the full
    * shingle sets ([[exactInterByArrays]]), so reported Jaccard values
    * are always full-set-exact.
    *
    * Two guards bound the residual work on corpora where even the
    * filtered mass is hostile:
    *
    * - `maxShingleDf` (explicit): the classic hot-key guard — shingles
    *   with FULL-corpus df above the cap never generate candidates
    *   (one stopword shingle with df = 10^6 otherwise puts 10^12 rows
    *   on one key).
    * - `candidateBudget` (default [[AutoCandidatePairBudget]] = derive
    *   from the conf key `spark.graft.dedup.candidateBudget` or the
    *   scratch dirs' free space, floored at
    *   [[MinCandidatePairBudget]]): the largest PREFIX-INDEX df cap
    *   whose total candidate mass fits the budget, chosen from a
    *   per-df histogram of the prefix index (a driver-side array of
    *   distinct df VALUES, tiny at any corpus size). Pricing the
    *   prefix index rather than the full one means the budget binds
    *   only against mass the join would actually generate.
    *
    * Correctness accounting when a guard fires: reported Jaccard
    * values stay EXACT (full-set recompute); pairs whose every shared
    * IN-PREFIX shingle is above-cap are not discovered, and the count
    * of suppressed shingles + the chosen cap are logged so the recall
    * change is observable. On a natural corpus (Heaps-law vocabulary
    * growth) the budget never binds; on a density-adversarial one it
    * degrades recall observably instead of dying on the shuffle — the
    * same corpus kills ANY exact engine, including a SQL replay of
    * this query. `candidateBudget = None` disables the budget guard
    * (exact candidate generation at any cost). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double,
      maxShingleDf: Option[Long] = None,
      candidateBudget: Option[Long] = Some(AutoCandidatePairBudget))
      : DataFrame =
    ngramJaccardPairsVia(df, idCol, textCol, n, threshold, maxShingleDf,
      candidateBudget, route = None)

  /** [[ngramJaccardPairs]] on the given route (the cost-based one when
    * None). */
  private[graft] def ngramJaccardPairsVia(df: DataFrame, idCol: String,
      textCol: String, n: Int, threshold: Double,
      maxShingleDf: Option[Long], candidateBudget: Option[Long],
      route: Option[Route]): DataFrame = {
    val spark = df.sparkSession
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    val budget = candidateBudget.map(resolveCandidateBudget(spark, _))
    val plan = Jobs.labeled(spark, "dedup: jaccard plan") {
      jaccardPlan(df, idCol, textCol, n, threshold, maxShingleDf, budget,
        route, forJoin = true)
    }
    val sh = plan.sh
    if (plan.route == Direct) {
      val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
      val a = sh.select(col(idCol).as("id_a"), col("shingle"))
      val b = sh.select(col(idCol).as("id_b"), col("shingle"))
      val interSz = a.join(b, "shingle")
        .filter(col("id_a") < col("id_b"))
        .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
        .join(sizes.withColumnRenamed("sz", "sz_a"),
          col("id_a") === col(sizes.columns.head))
        .drop(sizes.columns.head)
        .join(sizes.withColumnRenamed("sz", "sz_b"),
          col("id_b") === col(sizes.columns.head))
        .drop(sizes.columns.head)
      return interSz
        .withColumn("jaccard",
          col("inter") / (col("sz_a") + col("sz_b") - col("inter")))
        .filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), col("jaccard"))
    }
    // ---- prefix + verify path ----
    if (plan.nHotExplicit > 0L) log.warn(
      s"ngramJaccardPairs: explicit maxShingleDf=${maxShingleDf.get} " +
        s"fires: dropping ${plan.nHotExplicit} hot shingles from candidate " +
        "generation; pairs overlapping ONLY on those shingles " +
        "will not be discovered")
    plan.budgetCap.foreach { cap =>
      // recall accounting: the histogram's cut tail IS the estimated
      // drop — surfaced with the cap so the tradeoff is observable at
      // the moment it is made, not reconstructed after the fact
      val (nKeysDropped, massDropped) = droppedAboveCap(plan.keyHisto.get, cap)
      log.warn(
        s"ngramJaccardPairs: budget cap fires: dropping $nKeysDropped " +
          s"index keys with df > $cap, an estimated $massDropped " +
          s"candidate pairs cut before verification " +
          s"(candidateBudget=${plan.effBudget.get}" +
          (if (plan.route != SortMerge) ""
           else s", carry-shrunk from ${budget.get}: " +
             "set table too large to broadcast") +
          "); pairs whose every shared index key is hotter than the " +
          "cap will not be discovered")
    }
    val index = plan.index.get
    val a = index.select(col(idCol).as("id_a"), col("__key__"),
      col("__sz__").as("sz_a"), col("__rk1__").as("ra1"),
      col("__rk2__").as("ra2"))
    val b = index.select(col(idCol).as("id_b"), col("__key__"),
      col("__sz__").as("sz_b"), col("__rk1__").as("rb1"),
      col("__rk2__").as("rb2"))
    // positional bound (PPJoin family): the shared elements at ranks
    // (ra1, rb1) and (ra2, rb2) split both sets into before/between/
    // after segments, and the true intersection is at most the sum of
    // the pairwise minima plus the shared elements themselves. For
    // single-key rows rk1 == rk2 and the middle term's -1 cancels the
    // double count, reducing to the classic one-element bound.
    val bound =
      lit(2) + least(col("ra1") - lit(1), col("rb1") - lit(1)) +
        least(col("ra2") - col("ra1") - lit(1),
          col("rb2") - col("rb1") - lit(1)) +
        least(col("sz_a") - col("ra2"), col("sz_b") - col("rb2"))
    val candStream = a.join(b, "__key__")
      .filter(col("id_a") < col("id_b"))
      .filter(least(col("sz_a"), col("sz_b")) >=
        lit(threshold) * greatest(col("sz_a"), col("sz_b")) - lit(1e-9))
      // per-ROW positional prune before the aggregation: each shared
      // key's bound is individually valid, so a failing row proves its
      // pair non-qualifying and need not enter the spill-prone groupBy;
      // pairs surviving via other rows go to exact verification, which
      // rejects them — output unchanged (see the scaladoc)
      .filter(bound >=
        lit(threshold / (1.0 + threshold)) *
          (col("sz_a") + col("sz_b")) - lit(1e-9))
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(bound).as("__ub__"),
        first(col("sz_a")).as("__sza__"),
        first(col("sz_b")).as("__szb__"))
      .filter(col("__ub__") >=
        lit(threshold / (1.0 + threshold)) *
          (col("__sza__") + col("__szb__")) - lit(1e-9))
      .select(col("id_a"), col("id_b"))
    // semi-join reduction: at guard scale the corpus is huge and the
    // positional/length pruning leaves candidates over a doc subset,
    // so the set build must not pay for every doc. The candidate list
    // is checkpointed because it is then read twice. Sets are the
    // hashed shingles (see sh above).
    val cand = Jobs.labeled(spark, "dedup: candidates (budget cap " +
        s"${plan.budgetCap.getOrElse("none")}, budget " +
        s"${plan.effBudget.getOrElse("none")})") {
      candStream.localCheckpoint()
    }
    val candIds = cand
      .select(explode(array(col("id_a"), col("id_b"))).as(idCol))
      .distinct()
    exactInterByArrays(sh.join(candIds, Seq(idCol), "left_semi"), idCol,
        cand, plan.route, plan.why, plan.probeKernel)
      .withColumn("jaccard",
        col("inter") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Exact per-pair intersection counts for a candidate (id_a, id_b)
    * list, via per-doc SORTED SHINGLE ARRAYS instead of a double join
    * against the exploded shingle table: the exploded join shuffles
    * sum-over-pairs(|A|) rows (measured 650M for 13.6M candidates at 48
    * shingles/doc), the array route joins one row per candidate per
    * side against the one-row-per-doc array table, then intersects
    * inside a codegen `array_intersect` — exact semantics either way.
    * The set SIZES ride along for free (`size(set)` on the arrays
    * already joined in), so callers need no separate per-doc count
    * aggregation over the shingle table and no extra size joins.
    *
    * JOIN STRATEGY is the scale story here. A sort-merge plan carries
    * the FIRST join's array column through the SECOND join's shuffle —
    * ~|cand| x avg-set-bytes of shuffle write (measured ~260 GB for a
    * 198M-candidate stream at ~1.3 KB/set: the sf10 scratch-disk
    * killer, NOT the candidate stream itself). Below the set-table
    * ceiling ([[DefaultSetBroadcastBytes]], gated at a quarter heap)
    * the sets are broadcast instead: the candidate stream never
    * shuffles with arrays attached and the verify phase writes ZERO
    * array bytes to scratch. The CALLER picks the `route` — it knows
    * the candidate scale and the set-table size for free (the
    * budgeted jaccard path reads both off its df histogram, see
    * [[jaccardPlan]]; LSH banding's candidates are true-pair-many,
    * where a broadcast build costs more than it saves). With
    * `probeKernel`, a broadcast-joins route takes the kernel when the
    * (semi-join-reduced) set table's own estimate fits [[heapGate]].
    * Its jobs run under the label `dedup: verify by <route> (<why>)`.
    * Returns (id_a, id_b, inter, sz_a, sz_b); candidates sharing
    * nothing report inter = 0. */
  private def exactInterByArrays(sh: DataFrame, idCol: String,
      cand: DataFrame, route: Route, why: String,
      probeKernel: Boolean = false): DataFrame = {
    val spark = sh.sparkSession
    Jobs.labeled(spark, s"dedup: verify by $route ($why)") {
      // checkpoint: the table is read 2x (both join sides) — without it
      // the groupBy + sort re-runs per side (broadcast builds don't share
      // Spark's exchange reuse)
      val setTab = sh
        .groupBy(col(idCol))
        .agg(sort_array(collect_set(col("shingle"))).as("__set__"))
        .localCheckpoint()
      // Single-broadcast kernel: the two broadcast joins below each build
      // their own HashedRelation of the SAME set table — the dominant
      // verify cost once sets are hashed longs. The kernel collects the
      // (ceiling-bounded, semi-join-reduced) set table ONCE, broadcasts
      // one map, and runs a two-pointer merge per candidate inside
      // mapPartitions — measured 2x on the whole sf10 q_jaccard_pairs
      // wall (~100 s -> ~48 s, identical pairs). Its driver map is BOXED
      // (Map entry + key box + array header per doc), up to ~3x the
      // 32 B/row wire estimate, hence the 3x in the heap gate. Results
      // are pinned byte-identical to the join routes by spec.
      //
      // The caller's estimate prices the FULL corpus, but the kernel
      // collects only the candidate-doc-reduced table — on a huge corpus
      // whose near-dups touch a fraction of the docs the full estimate
      // would silently disable the 2x kernel where the reduced set fits
      // comfortably. The reduced table is already checkpointed, so a real
      // element count costs one cheap job, paid ONLY when it could flip
      // the decision.
      val reducedEst = if (!probeKernel) None else {
        val elems = setTab.agg(sum(size(col("__set__"))).cast("long")).head()
        Some(if (elems.isNullAt(0)) Long.MaxValue
          else satMul(32L, elems.getLong(0)))
      }
      if (route == Kernel || reducedEst.exists(satMul(3L, _) <= heapGate)) {
        val sets: Map[Any, Array[Long]] = Jobs.labeled(spark,
            s"dedup: verify by $Kernel ($why" +
              reducedEst.fold("")(e => s", reduced set estimate $e B") + ")") {
          setTab.collect()
        }.map(r => r.get(0) -> r.getSeq[Long](1).toArray).toMap
        val bc = spark.sparkContext.broadcast(sets)
        val candSchema = cand.schema
        val out = cand.rdd.mapPartitions { it =>
          val m = bc.value
          it.flatMap { row =>
            (m.get(row.get(0)), m.get(row.get(1))) match {
              case (Some(sa), Some(sb)) =>
                var i = 0; var j = 0; var inter = 0L
                while (i < sa.length && j < sb.length) {
                  if (sa(i) == sb(j)) { inter += 1; i += 1; j += 1 }
                  else if (sa(i) < sb(j)) i += 1
                  else j += 1
                }
                Some(Row(row.get(0), row.get(1), inter,
                  sa.length.toLong, sb.length.toLong))
              case _ => None // inner-join semantics: unmatched ids drop
            }
          }
        }
        spark.createDataFrame(out, StructType(Seq(
          candSchema.fields(0).copy(name = "id_a"),
          candSchema.fields(1).copy(name = "id_b"),
          StructField("inter", LongType),
          StructField("sz_a", LongType),
          StructField("sz_b", LongType))))
      } else {
        def side(idAs: String, setAs: String) = {
          val s = setTab.select(col(idCol).as(idAs), col("__set__").as(setAs))
          if (route == SortMerge) s else broadcast(s)
        }
        cand
          .join(side("id_a", "__sa__"), "id_a")
          .join(side("id_b", "__sb__"), "id_b")
          .select(col("id_a"), col("id_b"),
            size(array_intersect(col("__sa__"), col("__sb__")))
              .cast("long").as("inter"),
            size(col("__sa__")).cast("long").as("sz_a"),
            size(col("__sb__")).cast("long").as("sz_b"))
      }
    }
  }

  /** Modulus of the Carter-Wegman MinHash family: 2^56, matching the
    * range of [[TextAnalysis.hash56]]. */
  val MinhashMod: Long = 1L << 56

  /** MinHash signatures via a 2-universal Carter-Wegman family: two base
    * hashes per shingle, h1 = hash56('a:' || shingle) and
    * h2 = hash56('b:' || shingle), then
    * sig_j = min over shingles of (h1 + j * h2) mod 2^56.
    *
    * The affine combination replaces the old one-md5-PER-HASH family
    * (hash56(j || ':' || shingle)): per shingle row the md5 count drops
    * from numHashes to 2 and the remaining per-hash work is two integer
    * ops — at corpus scale MinHash signatures ARE the dedup cost, and
    * md5-of-string dominated the profile. No overflow: h1, h2 < 2^56 and
    * j <= numHashes - 1 keeps h1 + j * h2 < 2^63 for numHashes <= 64.
    * Still engine-portable — the DuckDB oracle replays the identical
    * arithmetic on the same two md5-derived bases. */
  def minhashSignatures(sh: DataFrame, idCol: String, numHashes: Int,
      withSetSize: Boolean = false): DataFrame = {
    require(numHashes <= 64, "numHashes > 64 would overflow h1 + j*h2")
    val based = sh.select(col(idCol),
      TextAnalysis.hash56(concat(lit("a:"), col("shingle"))).as("__h1__"),
      TextAnalysis.hash56(concat(lit("b:"), col("shingle"))).as("__h2__"))
    val aggs = (0 until numHashes).map(j =>
      min(pmod(col("__h1__") + lit(j.toLong) * col("__h2__"),
        lit(MinhashMod))).as(s"mh_$j")) ++
      // shingles() emits one row per DISTINCT (doc, shingle), so a plain
      // count lane IS the set size — rides the same aggregation for free
      // (the LSH length filter's input; see minhashLshPairs)
      (if (withSetSize) Seq(count(lit(1)).as("__lsz__")) else Nil)
    based.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Shingle-table row count from which [[minhashLshPairs]] turns its
    * length prefilter on. Below it the filter's carry cost (the size lane
    * through the signature checkpoint, the band union and the bucket
    * join: +0.4 s at sf0.1, OPTIMIZATION_r15.md §4) outweighs the
    * candidates it drops; at sf10 it saves 3.3 s (SURVEY.md §8, round
    * 14, item 3). */
  private val LshLenFilterMinShingleRows = 32000000L

  /** LSH-banded MinHash near-dup candidates, verified with exact Jaccard.
    * bands * rowsPerBand must equal numHashes. */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 8,
      threshold: Double = 0.8): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // gate the length prefilter on the corpus size: the shingle table is
    // already checkpointed, so the row count is a ~40 ms cached-metadata
    // job. The filter is recall-lossless, so the gate can never change
    // results, only the candidate mass.
    val (sh, lenFilter) = Jobs.labeled(df.sparkSession, "dedup: lsh shingles") {
      val sh = shingles(df, idCol, textCol, shingleN).localCheckpoint()
      (sh, sh.count() >= LshLenFilterMinShingleRows)
    }
    minhashLshPairsOn(sh, idCol, numHashes, bands, threshold, lenFilter)
  }

  /** [[minhashLshPairs]] on a checkpointed shingle table, with the length
    * prefilter on or off. */
  private[graft] def minhashLshPairsOn(sh: DataFrame, idCol: String,
      numHashes: Int, bands: Int, threshold: Double,
      lenFilter: Boolean): DataFrame = {
    val rowsPerBand = numHashes / bands
    // one row per doc — checkpoint so the 8-band union and the bucket
    // self-join read the tiny signature table instead of re-running the
    // numHashes-way aggregation over the full shingle set per branch
    val sigs = Jobs.labeled(sh.sparkSession, "dedup: minhash signatures") {
      minhashSignatures(sh, idCol, numHashes, withSetSize = lenFilter)
        .localCheckpoint()
    }
    // band key = md5 of the concatenated band slice; the set size rides
    // each band row (8 extra bytes through the band shuffle) so the
    // LENGTH FILTER below costs no join at all
    val banded = (0 until bands).map { b =>
      val slice = (0 until rowsPerBand).map(r => col(s"mh_${b * rowsPerBand + r}"))
      sigs.select((col(idCol) +: lit(b).as("band") +:
        md5(concat_ws("_", slice: _*)).as("bkey") +:
        (if (lenFilter) Seq(col("__lsz__")) else Nil)): _*)
    }.reduce(_ unionByName _)
    // LENGTH FILTER before the distinct and any array-carrying work:
    // J >= t forces min(|A|,|B|) >= t * max(|A|,|B|), so a candidate
    // failing it is rejected from the two doc sizes alone — no set
    // arrays, no intersection, and the distinct's input shrinks too.
    // On the dense synthetic corpus at sf10, 86% of the banded
    // candidate stream sits at J < 0.1 (hot-bucket background, not
    // near-threshold structure — SURVEY.md §8, round 14, item 3) and 62%
    // dies on this one predicate (7.96M -> 3.05M candidates measured,
    // outputs byte-identical). Filtering on columns carried by the
    // band join itself keeps the whole thing one shuffle — linear in
    // candidates at any corpus size.
    val joined0 = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
    val cand = (if (lenFilter)
        joined0.filter(least(col("x.__lsz__"), col("y.__lsz__")) >=
          lit(threshold) * greatest(col("x.__lsz__"), col("y.__lsz__"))
            - lit(1e-9))
      else joined0)
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"))
      .distinct()
    // verify candidates with exact Jaccard over the full shingle sets
    // (array-route: see exactInterByArrays — the candidate mass is
    // corpus-quadratic in the pairwise-similarity BACKGROUND, so the
    // verify join must be linear in candidates, not in candidate x
    // doc-size; set sizes ride along in the same pass, so this is ONE
    // aggregation over the shingle table and two candidate-sized joins).
    // The sets are xxhash64 LONGS, not strings: Jaccard is invariant
    // under the corpus-wide hash relabeling (collisions ~vocab^2/2^64,
    // see ngramJaccardPairs), and long arrays build, shuffle and
    // intersect severalfold cheaper — the signatures above stay
    // md5-on-strings, which the oracle replays bit-exactly.
    // Sort-merge, not broadcast: banding bounds |cand| near the true
    // near-dup count, so the array carry is ~true-pair-many rows and a
    // per-band broadcast build would cost more than it saves (measured
    // +0.35 s at sf0.1); the budgeted-jaccard path broadcasts because
    // its candidate stream is budget-many, 1000x larger
    val shHashed = sh.select(col(idCol),
      xxhash64(col("shingle")).as("shingle"))
    exactInterByArrays(shHashed, idCol, cand, SortMerge, "lsh candidates")
      .withColumn("jaccard",
        col("inter") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** SimHash from token hashes: bit b of the signature is set iff
    * sum over distinct tokens of (2 * bit_b(hash) - 1) > 0.
    *
    * `bits` (default 16, the oracle-pinned width) sizes the signature;
    * up to 56 bits come from the one hash56 per token. Width is a SCALE
    * knob, not just precision: the pigeonhole banding in [[simhashPairs]]
    * joins on (chunk, chunk-value) keys whose cardinality is
    * ~2^(bits/(maxHamming+1)) — at 16 bits and maxHamming=1 that is 256
    * values per chunk, so a billion-doc corpus would pile ~n/256 docs on
    * every join key (hot-key shuffle + n^2/256 candidate pairs). At
    * bits=56, chunks carry 28 bits and candidates stay near the true
    * near-dup count. */
  def simhash(df: DataFrame, idCol: String, textCol: String,
      bits: Int = 16): DataFrame = {
    require(bits >= 1 && bits <= 56, "bits must be in [1, 56] (hash56)")
    val toks = df.select(col(idCol),
        explode(array_distinct(split(col(textCol), "\\s+"))).as("__tok__"))
      .filter(col("__tok__") =!= "")
      .withColumn("__h__", TextAnalysis.hash56(col("__tok__")))
    val bitSums = (0 until bits).map(b =>
      sum(shiftright(col("__h__"), b).bitwiseAND(1) * 2 - 1).as(s"s_$b"))
    val agg = toks.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until bits).map(b =>
      when(col(s"s_$b") > 0, 1L << b).otherwise(0L)).reduce(_ + _)
    agg.select(col(idCol), sig.as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance <= maxHamming, via
    * pigeonhole banding: the `bits`-wide signature is split into
    * `maxHamming + 1` contiguous chunks, so any pair within the Hamming
    * budget agrees EXACTLY on at least one chunk (pigeonhole). Candidates
    * come from an equi-join on (chunk index, chunk value) — a plain
    * shuffled hash join that scales like LSH banding, not the O(n^2)
    * broadcast-nested-loop of a `id_a < id_b` theta join — and are then
    * verified with the exact bit_count. Lossless for maxHamming < bits
    * (maxHamming >= bits means "all pairs"). At corpus scale pass
    * bits=56: see [[simhash]] on chunk-key cardinality. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int, bits: Int = 16): DataFrame = {
    require(maxHamming >= 0 && maxHamming < bits,
      s"maxHamming must be in [0, ${bits - 1}] for a $bits-bit signature")
    val s = simhash(df, idCol, textCol, bits)
    val nChunks = maxHamming + 1
    val banded = (0 until nChunks).map { c =>
      val lo = bits * c / nChunks
      val hi = bits * (c + 1) / nChunks
      val mask = (1L << (hi - lo)) - 1L
      s.select(col(idCol), col("simhash"), lit(c).as("chunk"),
        shiftright(col("simhash"), lo).bitwiseAND(lit(mask)).as("ckey"))
    }.reduce(_ unionByName _)
    banded.as("x").join(banded.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.ckey") === col("y.ckey") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"),
        col("x.simhash").as("h_a"), col("y.simhash").as("h_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("h_a").bitwiseXOR(col("h_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Cosine similarity of two double-array columns (codegen higher-order
    * functions, no UDF). */
  def cosineCol(a: Column, b: Column): Column = {
    // native fused-loop dot product (graft.functions.DotProduct): the
    // zip_with/aggregate chain allocates an intermediate array per row,
    // which dominates on multi-million-pair joins
    val dot = graft.functions.DotProduct(a, b)
    val na = sqrt(graft.functions.DotProduct(a, a))
    val nb = sqrt(graft.functions.DotProduct(b, b))
    dot / (na * nb)
  }

  /** [[cosineCol]] with both norms already materialized (e.g. stored in
    * an IVF index at build time) — one dot product per pair instead of
    * three. */
  def cosineWithNormsCol(a: Column, b: Column, na: Column,
      nb: Column): Column =
    graft.functions.DotProduct(a, b) / (na * nb)

  /** Embedding near-duplicate pairs: EXACT pairwise cosine >= threshold,
    * as a distributed block-pair kernel. The corpus is split into
    * `nBlocks` blocks by id hash; every unordered block pair (i <= j)
    * becomes one task that runs a tight while-loop dot product over the
    * two in-memory blocks. Nothing is collected to the driver and no
    * per-pair rows are materialized before the threshold filter: the
    * O(n^2/2) flops are spread over nBlocks*(nBlocks+1)/2 tasks, each
    * holding only 2n/nBlocks vectors — size nBlocks so a block fits in
    * executor memory and the task count saturates the cluster. For
    * sub-quadratic candidate generation at extreme scale, block first
    * with [[Ann.ivfTopK]]'s quantizer cells or random-projection banding
    * ([[simhashPairs]]-style) and accept the recall tradeoff; this
    * operator is the exact path. */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nBlocks: Int = 16): DataFrame = {
    val spark = df.sparkSession
    val blocks = Ann.vectorBlocks(df, idCol, vecCol, nBlocks)
    val pairs = blocks.cartesian(blocks)
      .filter { case ((bi, _), (bj, _)) => bi <= bj }
      .flatMap { case ((bi, left), (bj, right)) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        var ai = 0
        while (ai < left.length) {
          val (ida, va, na) = left(ai)
          var ri = if (bi == bj) ai + 1 else 0
          while (ri < right.length) {
            val (idb, vb, nb) = right(ri)
            if (ida != idb) {
              var dot = 0.0
              var i = 0
              while (i < va.length) { dot += va(i) * vb(i); i += 1 }
              val cos = dot / (na * nb)
              if (cos >= threshold)
                out += (if (ida < idb) Row(ida, idb, cos) else Row(idb, ida, cos))
            }
            ri += 1
          }
          ai += 1
        }
        out
      }
    spark.createDataFrame(pairs, StructType(Seq(
      StructField("id_a", LongType), StructField("id_b", LongType),
      StructField("cosine", DoubleType))))
  }

  /** SUB-QUADRATIC embedding near-dup: IVF-cell candidate generation +
    * exact cosine verification — the extreme-scale sibling of
    * [[embeddingNearDupPairs]]. Vectors are assigned to KMeans cells
    * ([[Ann.buildIvfIndex]]); candidate pairs share a cell, so the join
    * is an equi-join on the cell id and the pair count drops from
    * O(n^2/2) to sum over cells of O(n_c^2/2). Reported cosines are
    * exact; recall < 1 by construction — a true near-dup pair lands in
    * different cells with probability that shrinks as the two vectors
    * approach each other, and more cells trade recall for speed.
    * At 100 TB this is the default; the exact kernel is the oracle. */
  def embeddingNearDupPairsIvf(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nCells: Int = 64, seed: Long = 42L): DataFrame =
    embeddingNearDupPairsFromIndex(
      Ann.buildIvfIndex(df, idCol, vecCol, nCells, seed), threshold)

  /** [[embeddingNearDupPairsIvf]] over a prebuilt (possibly shared)
    * index — build once, re-screen at many thresholds. */
  def embeddingNearDupPairsFromIndex(index: Ann.IvfIndex,
      threshold: Double): DataFrame = {
    // norms come from the index (computed once at build): one fused dot
    // product per candidate pair instead of three array aggregations
    val x = index.assigned.select(col("__cell__"),
      col("neighbor_id").as("id_a"), col("cv").as("va"),
      col("__nv__").as("na"))
    val y = index.assigned.select(col("__cell__"),
      col("neighbor_id").as("id_b"), col("cv").as("vb"),
      col("__nv__").as("nb"))
    x.join(y, Seq("__cell__"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        cosineWithNormsCol(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }
}
