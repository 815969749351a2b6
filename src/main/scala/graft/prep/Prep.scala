package graft.prep

import graft.core._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable

/** Data preparation operators (SURVEY §2.2). All are lazy DataFrame
  * transformations — Catalyst prunes/pushes them into the scan. */
object Prep {

  val InterceptCol = "__ob_intercept__"

  /** Conventional name of the row-id column [[withRowId]] attaches.
    * Bootstrap callers look for it to key replicate draws per-ROW
    * instead of per-content (content keying gives duplicate rows
    * correlated draws — see [[graft.core.Gram.computeGrouped]]). */
  val RowIdCol = "__row_id__"

  /** Validate columns exist, then drop rows with nulls in any model
    * column. Mirrors `clean_dataframe`
    * (`oaxaca_blinder/src/builder.rs:760-784`). */
  def clean(df: DataFrame, cols: Seq[String]): DataFrame = {
    val have = df.columns.toSet
    cols.foreach(c => if (!have.contains(c)) throw ColumnNotFound(c))
    df.na.drop("any", cols)
  }

  /** Two-group split by sorted distinct levels: reference level = group B,
    * first other sorted level = group A
    * (`oaxaca_blinder/src/builder.rs:61-103`). */
  final case class GroupSplit(levelA: String, levelB: String,
      dfA: DataFrame, dfB: DataFrame, indicatorA: Column)

  /** Sorted distinct non-null levels of `groupCol` (Spark's binary
    * string order, see [[utf8Sorted]]). */
  def groupLevels(df: DataFrame, groupCol: String): Seq[String] =
    groupLevelsOf(df, Seq(groupCol)).head

  /** [[groupLevels]] of every column in `cols`, in ONE labeled job: each
    * partition collects its distinct strings per column, the sets merge
    * up the tree and are sorted on the driver. A `distinct` + `orderBy`
    * + `collect` costs four jobs under AQE (shuffle, range sample,
    * shuffle, result) for what one scan already knows. */
  def groupLevelsOf(df: DataFrame, cols: Seq[String]): Seq[Seq[String]] = {
    val n = cols.size
    val zero = Array.fill(n)(mutable.HashSet.empty[UTF8String])
    val sets = Jobs.treeReduce(
      df.select(cols.map(c => col(c).cast("string")): _*).queryExecution.toRdd,
      "prep: group levels")(zero)(
      seqOp = (acc, row) => {
        var i = 0
        while (i < n) {
          if (!row.isNullAt(i)) {
            val v = row.getUTF8String(i)
            // the row buffer is reused: copy only strings not seen yet
            if (!acc(i).contains(v)) acc(i) += v.clone()
          }
          i += 1
        }
        acc
      },
      combOp = (a, b) => { var i = 0; while (i < n) { a(i) ++= b(i); i += 1 }; a })
    sets.toSeq.map(s => utf8Sorted(s.toSeq.map(_.toString)))
  }

  def splitGroups(df: DataFrame, groupCol: String, reference: String): GroupSplit = {
    val levels = groupLevels(df, groupCol)
    if (levels.size < 2)
      throw InvalidGroupVariable(
        s"Group variable '$groupCol' must have at least 2 levels, found ${levels.size}")
    if (!levels.contains(reference))
      throw InvalidGroupVariable(
        s"Reference level '$reference' not found in '$groupCol' (levels: ${levels.mkString(", ")})")
    val levelA = levels.filter(_ != reference).head
    val g = col(groupCol).cast("string")
    GroupSplit(levelA, reference,
      df.filter(g === lit(levelA)), df.filter(g === lit(reference)),
      g === lit(levelA))
  }

  /** Lane index for one-pass grouped aggregation: A -> 0, B(ref) -> 1. */
  def laneOf(split: GroupSplit, groupCol: String): Column = {
    val g = col(groupCol).cast("string")
    when(g === lit(split.levelA), 0).when(g === lit(split.levelB), 1).otherwise(-1)
  }

  /** Sort by UTF-8 bytes — Spark's binary string collation, which
    * differs from JVM UTF-16 code-unit order for supplementary-plane
    * characters. Every level choice made driver-side sorts with it, so
    * levels order as a Spark `orderBy` would order them. */
  def utf8Sorted(values: Seq[String]): Seq[String] = values.sortWith { (x, y) =>
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n && a(i) == b(i)) i += 1
    if (i < n) (a(i) & 0xFF) < (b(i) & 0xFF) else a.length < b.length
  }

  /** [[splitGroups]] + [[graft.core.Gram.computeGrouped]] fused into ONE
    * job for the 2-level common case: the Gram pass runs with a
    * SPECULATIVE lane mapping (reference -> lane 1, everything else ->
    * lane 0) while recording lane 0's distinct group values inside the
    * same scan. Exactly one non-reference level seen means the
    * speculative lanes WERE the true split — same rows, same lanes, same
    * accumulation order, so the Grams are bit-identical to the classic
    * discover-then-scan sequence — and the split's frames derive lazily
    * with no extra action. Any other outcome (error cases, or >2 levels
    * whose extra rows polluted lane 0) falls back to [[splitGroups]]'
    * semantics on the complete tracked level set, reproducing its exact
    * errors and re-running the Gram on the true lanes.
    *
    * At the reference's published 100k x 10 benchmark shape this fold is
    * the difference between matching its point-estimate latency and
    * paying a 2x fixed job-count tax (BASELINE.md row 1): level
    * discovery was a full distinct+collect job over data the Gram scan
    * reads anyway.
    *
    * NULL semantics: null GROUP values map to lane -1 and are skipped
    * (identical to the classic laneOf mapping). Null MODEL values (y/w/x)
    * on a non-null-group row throw from the fused scan — i.e. during
    * level discovery, one job earlier than the classic sequence, whose
    * splitGroups would first discover levels over such rows and only then
    * hit the same error in the Gram pass. Callers must [[clean]] first
    * (every internal caller does); direct callers with dirty frames can
    * observe the discovery-stage error ordering difference. */
  def splitGroupsWithGram(dummied: DataFrame, groupCol: String,
      reference: String, yCol: String, xCols: Seq[String],
      wCol: Option[String], reps: Int, seed: Long,
      seedCols: Seq[String] = Nil)
      : (GroupSplit, Array[Array[GramResult]]) = {
    val g = col(groupCol).cast("string")
    val specLane = when(g.isNull, -1).when(g === lit(reference), 1).otherwise(0)
    val (lanes, tracked) = Gram.computeGroupedTracking(dummied, yCol, xCols,
      wCol, specLane, nLanes = 2, reps = reps, seed = seed, trackCol = g,
      seedCols = seedCols)
    val refPresent = lanes(1)(0).n > 0
    if (tracked.size == 1 && refPresent) {
      val levelA = tracked.head
      (GroupSplit(levelA, reference,
        dummied.filter(g === lit(levelA)), dummied.filter(g === lit(reference)),
        g === lit(levelA)), lanes)
    } else {
      // the tracked set is every non-reference level, so splitGroups'
      // validations run on it without another discovery job
      val levels = utf8Sorted(
        tracked ++ (if (refPresent) Seq(reference) else Nil))
      if (levels.size < 2)
        throw InvalidGroupVariable(
          s"Group variable '$groupCol' must have at least 2 levels, found ${levels.size}")
      if (!refPresent)
        throw InvalidGroupVariable(
          s"Reference level '$reference' not found in '$groupCol' (levels: ${levels.mkString(", ")})")
      // > 2 levels: lane 0 pooled several non-reference levels, so the
      // speculative Grams are invalid — re-run on the true split
      val levelA = levels.filter(_ != reference).head
      val split = GroupSplit(levelA, reference,
        dummied.filter(g === lit(levelA)), dummied.filter(g === lit(reference)),
        g === lit(levelA))
      (split, Gram.computeGrouped(dummied, yCol, xCols, wCol,
        laneOf(split, groupCol), 2, reps, seed, seedCols = seedCols))
    }
  }

  /** One-hot metadata: base level is the first sorted distinct level,
    * dummies are named `{var}_{level}` as Double 0/1 columns
    * (`oaxaca_blinder/src/builder.rs:380-418`). */
  final case class DummyInfo(varName: String, base: String,
      levels: Seq[String], dummyCols: Seq[String]) {
    def numLevels: Int = levels.size
  }

  /** Expand categorical columns into named Double dummy columns
    * (drop-first coding). Named columns — not OneHotEncoder vectors — so
    * the detailed decomposition stays addressable per `{var}_{level}`. */
  def oneHot(df: DataFrame, categoricals: Seq[String]): (DataFrame, Seq[DummyInfo]) = {
    var out = df
    val allLevels =
      if (categoricals.isEmpty) Nil else groupLevelsOf(df, categoricals)
    val infos = categoricals.zip(allLevels).map { case (v, levels) =>
      if (levels.size < 2)
        throw InvalidGroupVariable(
          s"Categorical '$v' must have at least 2 levels, found ${levels.size}")
      val base = levels.head
      val nonBase = levels.tail
      val cols = nonBase.map(l => s"${v}_$l")
      nonBase.zip(cols).foreach { case (l, c) =>
        out = out.withColumn(c,
          when(col(v).cast("string") === lit(l), 1.0).otherwise(0.0))
      }
      DummyInfo(v, base, levels, cols)
    }
    (out, infos)
  }

  /** Add the intercept column and return the design column order:
    * [intercept, numeric predictors..., dummy columns...]
    * (`oaxaca_blinder/src/builder.rs:294-378`). */
  def withIntercept(df: DataFrame): DataFrame =
    df.withColumn(InterceptCol, lit(1.0))

  def designCols(numeric: Seq[String], dummies: Seq[DummyInfo]): Seq[String] =
    InterceptCol +: (numeric ++ dummies.flatMap(_.dummyCols))

  /** [[oneHot]] then [[withIntercept]]: the design frame, its column
    * order ([[designCols]]) and the one-hot metadata. */
  def design(cleaned: DataFrame, numeric: Seq[String], categorical: Seq[String])
      : (DataFrame, Seq[String], Seq[DummyInfo]) = {
    val (dummied, infos) = oneHot(cleaned, categorical)
    (withIntercept(dummied), designCols(numeric, infos), infos)
  }

  /** Human-facing names for design columns (intercept renamed). */
  def designNames(cols: Seq[String]): Seq[String] =
    cols.map(c => if (c == InterceptCol) "intercept" else c)

  /** Strict numeric cast (S2, `engine/src/analysis.rs:14-35`): cast each
    * column to Double and REJECT any column whose cast produces new
    * nulls (non-numeric data selected as continuous). One aggregate pass
    * for all columns. */
  def strictCast(df: DataFrame, cols: Seq[String]): DataFrame = {
    val have = df.columns.toSet
    cols.foreach(c => if (!have.contains(c))
      throw ColumnNotFound(s"Column '$c' not found in dataset."))
    // a numeric/boolean column can never produce NEW nulls under
    // try_cast, so the validation scan only covers the columns whose
    // declared type could (strings, dates, ...) — for an all-numeric
    // model the whole pass is skipped
    val needCheck = cols.filter(c => df.schema(c).dataType match {
      case _: org.apache.spark.sql.types.NumericType => false
      case org.apache.spark.sql.types.BooleanType => false
      case _ => true
    })
    if (needCheck.nonEmpty) {
      // try_cast (not cast): ANSI mode would throw mid-scan on the first
      // bad value instead of letting us report the offending column.
      // One labeled job: null counts before and after the cast, per
      // column, summed up the tree (an agg + head is two jobs under AQE)
      val flags = needCheck.flatMap(c =>
        Seq(col(c).isNull, expr(s"try_cast(`$c` AS DOUBLE)").isNull))
      val m = flags.size
      val nulls = Jobs.treeReduce(df.select(flags: _*).queryExecution.toRdd,
        "prep: strict-cast check")(new Array[Long](m))(
        seqOp = (acc, row) => {
          var i = 0
          while (i < m) { if (row.getBoolean(i)) acc(i) += 1; i += 1 }
          acc
        },
        combOp = (a, b) => { var i = 0; while (i < m) { a(i) += b(i); i += 1 }; a })
      needCheck.zipWithIndex.foreach { case (c, i) =>
        if (nulls(2 * i + 1) > nulls(2 * i))
          throw InvalidArgument(s"Column '$c' contains non-numeric data " +
            "but was selected as a continuous variable.")
      }
    }
    cols.foldLeft(df)((d, c) =>
      d.withColumn(c, expr(s"try_cast(`$c` AS DOUBLE)")))
  }

  /** Stable row id attached at ingest (P7): xxhash64 over ALL columns
    * plus a per-group ordinal ("hash-ordinal" string), so the id is
    * content-derived and survives re-planning and repartitioning
    * (`monotonically_increasing_id` is partition-derived and does NOT —
    * a by-id mutation like P12 could mis-join after a re-plan). Ordinals
    * within a hash group are ordered by the full column list, so two
    * DISTINCT rows that collide on the 64-bit hash (expected in the
    * thousands at ~1e12 rows) still get content-deterministic ids; rows
    * with fully identical content are interchangeable, so their arbitrary
    * relative order is harmless. Cost: one hash-partitioned shuffle of
    * the table; each partition's sort only has to separate same-hash
    * groups, which are O(1)-sized. Prefer a naturally unique key column
    * when the data has one. */
  def withRowId(df: DataFrame, idCol: String = RowIdCol): DataFrame = {
    val h = xxhash64(df.columns.map(col): _*)
    // tie-break only on orderable column types: a map column (unorderable
    // in Spark) would fail analysis, and dropping it from the ORDER only
    // affects the ordinal assignment among same-hash rows
    val orderable = df.schema.fields.filter(f =>
      org.apache.spark.sql.catalyst.expressions.RowOrdering
        .isOrderable(f.dataType)).map(f => col(f.name)).toSeq
    val orderCols = if (orderable.nonEmpty) orderable else Seq(h)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(h).orderBy(orderCols: _*)
    df.withColumn(idCol, concat_ws("-", h, row_number().over(w)))
  }
}
