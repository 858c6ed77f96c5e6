package graft.hpct

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Profile-analysis operators over [[ProfileFrame]] — the Spark re-expression of the
  * reference's bespoke methods (SURVEY §2.A). Every operator returns a new
  * [[ProfileFrame]] carrying the same metadata (the reference's `_constructor`
  * behavior, HD.py:135-152); tree operations are relational operations on the
  * materialized `callpath` array. The path filters, hot path and flame layout are
  * each implemented once, in the column-parametrized tree-operator core at the
  * end of this object, which the queries.Hierarchy tree queries share.
  */
object Ops {

  /** Callpath prefix/suffix filter (`at_paths`, reference HD.py:79-92, 391-393).
    * Arbitrary `fragments` raise in the reference (HD.py:83) — mirrored here.
    */
  def atPaths(pf: ProfileFrame, prefix: Seq[Long] = Nil, suffix: Seq[Long] = Nil,
      fragments: Seq[Seq[Long]] = Nil): ProfileFrame = {
    require(fragments.isEmpty, "filtering by arbitrary fragment not supported")
    pf.copy(df = pathFilter(pf.df, "callpath", prefix, suffix))
  }

  /** A pattern element for [[seqFilter]]: exact string equality or full-match regex
    * (the reference's `str` vs compiled `t.Pattern` dichotomy, HD.py:95-120).
    */
  sealed trait SeqPattern
  final case class Exact(value: String) extends SeqPattern
  /** Java/Spark regex, matched against the WHOLE element (Python `fullmatch`). */
  final case class Re(pattern: String) extends SeqPattern

  /** Generalized string/regex sequence filter (reference
    * `_str_or_regex_sequence_filter`, HD.py:95-120 — dead code there, zero call
    * sites; surfaced here for API completeness): keep rows whose array-of-string
    * `column` starts with `prefix` and/or ends with `suffix`, where each pattern
    * element matches its aligned sequence element by equality ([[Exact]]) or by
    * regex fullmatch ([[Re]]). Arbitrary `fragments` raise, mirroring HD.py:100.
    * Compiles to positional `element_at` + `rlike` predicates — codegen'd, no UDF.
    */
  def seqFilter(df: DataFrame, column: String, prefix: Seq[SeqPattern] = Nil,
      suffix: Seq[SeqPattern] = Nil, fragments: Seq[Seq[SeqPattern]] = Nil): DataFrame = {
    require(fragments.isEmpty, "filtering by arbitrary fragment not supported")
    def matches(el: Column, p: SeqPattern): Column = p match {
      case Exact(v) => el === lit(v)
      // rlike is a substring search; anchor both ends for Python fullmatch semantics
      case Re(r) => el.rlike(s"\\A(?:$r)\\z")
    }
    var out = df
    if (prefix.nonEmpty)
      out = out.filter(prefix.zipWithIndex.map { case (p, i) =>
        matches(element_at(col(column), i + 1), p)
      }.fold(size(col(column)) >= prefix.length)(_ && _))
    if (suffix.nonEmpty)
      out = out.filter(suffix.zipWithIndex.map { case (p, i) =>
        matches(element_at(col(column), -(suffix.length - i)), p)
      }.fold(size(col(column)) >= suffix.length)(_ && _))
    out
  }

  /** Depth filter (`at_depths`/`at_depth`, reference HD.py:123-128, 395-401). */
  def atDepths(pf: ProfileFrame, minDepth: Option[Int] = None,
      maxDepth: Option[Int] = None): ProfileFrame =
    pf.copy(df = depthFilter(pf.df, "callpath", minDepth, maxDepth))

  def atDepth(pf: ProfileFrame, depth: Int): ProfileFrame =
    atDepths(pf, Some(depth), Some(depth))

  /** Compact projection (reference HD.py:387-389). Returns [[ProfileFrame]]: the
    * reference's `.compact` property yields the subclass, and its test asserts the
    * sidecar metadata survives it (T.py:40-45).
    */
  def compact(pf: ProfileFrame): ProfileFrame =
    pf.copy(df = pf.df.select(pf.meta.compactColumns.map(col).toSeq: _*))

  /** Hot path (reference HD.py:403-428) of the profile from `callpath`, ranked by
    * `baseColumn` (default: the meta's hot-path column). See [[hotPathRows]].
    */
  def hotPath(pf: ProfileFrame, callpath: Seq[Long] = Nil, threshold: Double = 0.05,
      baseColumn: Option[String] = None): ProfileFrame =
    pf.copy(df = hotPathRows(pf.df, "id", "callpath",
      baseColumn.getOrElse(pf.meta.hotPathColumn), threshold, callpath))

  /** Flame-graph geometry (reference HD.py:430-540, minus matplotlib) of the
    * subtree under `prefix`: one row per node per layer with `(id, depth, x0,
    * width, procedure, labeled)`, layers `minDepth` (default: one below the
    * prefix) to `maxDepth`, sized by `column` (default: the percentage column's
    * ratio of parent). See [[flameLayout]].
    */
  def flameGeometry(pf: ProfileFrame, prefix: Seq[Long] = Nil, column: Option[String] = None,
      minDepth: Option[Int] = None, maxDepth: Option[Int] = None): DataFrame = {
    val lo = minDepth.getOrElse(prefix.length + 1)
    require(lo > prefix.length, s"minDepth $lo must exceed prefix length ${prefix.length}")
    flameLayout(pathFilter(pf.df, "callpath", prefix), "id", "callpath",
      column.getOrElse(pf.meta.percentageColumn + " ratio of parent"), lo, maxDepth,
      passThrough = Seq("procedure"))
  }

  // ---- Tree-operator core ----------------------------------------------------
  // One implementation per tree operator, over any one-row-per-node table with an
  // id column, a materialized root-to-node `path` array (the node's own key last;
  // a root row, if any, has the empty path) and a value column. The ProfileFrame
  // operators above call it with `id`/`callpath`/metric; queries.Hierarchy
  // a11-a15 call it with `id`/`path`/`value`.

  private def c(name: String): Column = col(s"`$name`")

  /** Rows whose `path` starts with `prefix` and ends with `suffix` (empty = any). */
  def pathFilter(df: DataFrame, path: String, prefix: Seq[Long] = Nil,
      suffix: Seq[Long] = Nil): DataFrame = {
    var out = df
    if (prefix.nonEmpty)
      out = out.filter(size(c(path)) >= prefix.length &&
        slice(c(path), 1, prefix.length) === lit(prefix.toArray))
    if (suffix.nonEmpty)
      out = out.filter(size(c(path)) >= suffix.length &&
        slice(c(path), -suffix.length, suffix.length) === lit(suffix.toArray))
    out
  }

  /** Rows whose depth `size(path)` lies within the given bounds (None = open). */
  def depthFilter(df: DataFrame, path: String, minDepth: Option[Int] = None,
      maxDepth: Option[Int] = None): DataFrame = {
    var out = df
    minDepth.foreach(d => out = out.filter(size(c(path)) >= d))
    maxDepth.foreach(d => out = out.filter(size(c(path)) <= d))
    out
  }

  /** Greedy hot path: from the node at `start`, repeatedly step into the child with
    * the max `value` (min `id` on ties — pandas idxmax order) until there are no
    * children or that child's value is below `threshold` (it is excluded). Returns
    * the rows on the path, all input columns kept.
    *
    * One declarative plan, no per-depth jobs: a node is on the path iff
    * EVERY prefix of its path (itself included) strictly longer than `start` is
    * (a) the rank-1 child of its sibling group and (b) at or above the threshold —
    * exactly the set the greedy descent visits, minus the below-threshold child it
    * rejects. Three keyed stages: a per-parent rank window, a prefix explode
    * (O(depth) rows per node) and a count-matches aggregation.
    *
    * A non-empty `start` restricts the frame to the subtree rooted at that path
    * (the node itself is on the path unconditionally, as the greedy seed); sibling
    * groups inside the subtree are complete, so the rank window is unchanged. NaN
    * values descend (Spark orders NaN above every double, and NaN >= threshold);
    * null values stop. `Double.NegativeInfinity` descends to a leaf.
    */
  def hotPathRows(df: DataFrame, id: String, path: String, value: String,
      threshold: Double, start: Seq[Long] = Nil): DataFrame = {
    require(df.columns.contains(value), s"missing hot-path column $value")
    val d0 = start.length
    val sub = pathFilter(df, path, prefix = start)
    val winners = sub
      .filter(size(c(path)) > d0)
      // greatest(..., 0): the size > d0 filter already excludes the root at runtime,
      // but on literal/in-memory sources constant folding evaluates the slice
      // BEFORE the filter and a -1 length aborts the whole plan
      .withColumn("__parent",
        slice(c(path), lit(1), greatest(size(c(path)) - 1, lit(0))))
      .withColumn("__rk", row_number().over(
        Window.partitionBy("__parent").orderBy(c(value).desc, c(id).asc)))
      .filter(col("__rk") === 1 && c(value) >= threshold)
      .select(c(path).as("__winner"))
    val prefixes = sub
      .select(c(id).as("__nid"), c(path))
      .withColumn("__k",
        explode(when(size(c(path)) > d0, sequence(lit(d0 + 1), size(c(path))))
          .otherwise(array().cast("array<int>"))))
      .select(col("__nid"), (size(c(path)) - d0).as("__depth"),
        slice(c(path), lit(1), col("__k")).as("__winner"))
    val hotIds = prefixes
      .join(winners, "__winner")
      .groupBy("__nid", "__depth")
      .agg(count(lit(1)).as("__hits"))
      .filter(col("__hits") === col("__depth"))
      .select(col("__nid"))
    // the start node (zero prefixes beyond d0) is always on the path — the greedy
    // descent seeds there; for a root start that is the empty-path root row, if any
    sub.join(hotIds, sub(s"`$id`") === hotIds("__nid"), "left_semi")
      .unionByName(sub.filter(size(c(path)) === d0))
  }

  /** Flame layout of the layers `lo`..`hi` (depth = `size(path)`): one row per
    * node with `(id, depth, x0, width, <passThrough>..., labeled)`. Layer `lo` is
    * normalized to the full circle 2π; each deeper layer is sibling-normalized
    * within its parent and offset by the within-parent cumulative sum (in id
    * order) plus the parent's offset. `labeled` is the reference's label rule
    * width ≥ π/(depth − lo + 32).
    *
    * One declarative plan, no per-layer jobs. Let r(p) = v(p) / Σ v over
    * p's normalization group (the WHOLE layer `lo` for depth `lo`, its parent's
    * children below), and b(p) the within-group share strictly before p in id
    * order. Unrolling the layer recursion width = r·parentWidth,
    * x0 = parentX0 + b·parentWidth gives, for a node n at depth d:
    *   width(n) = 2π · Π_{k=lo..d} r(prefix_k(n))
    *   x0(n)    = 2π · Σ_{k=lo..d} b(prefix_k(n)) · Π_{j=lo..k-1} r(prefix_j(n))
    * Three keyed stages, as in [[hotPathRows]]: a per-group window computing
    * (r, b) once per node, a prefix explode (O(depth) rows per node), and one
    * ordered `aggregate` per node folding its ancestor chain.
    */
  def flameLayout(df: DataFrame, id: String, path: String, value: String, lo: Int,
      hi: Option[Int] = None, passThrough: Seq[String] = Nil): DataFrame = {
    val twoPi = 2.0 * math.Pi
    val keep = passThrough.map(c)
    val base = depthFilter(df, path, Some(lo), hi)
      .select(Seq(c(id), c(path), c(value).as("__v")) ++ keep: _*)
    // normalization group key: depth-lo nodes form ONE global group (the full
    // circle); deeper nodes group under their parent
    val keyed = base.withColumn("__g",
      when(size(c(path)) === lo, array(lit(-1L)))
        // greatest(..., 0) keeps constant folding from evaluating a -1 length on
        // literal sources (the size >= lo filter excludes those rows at runtime)
        .otherwise(slice(c(path), lit(1), greatest(size(c(path)) - 1, lit(0)))))
    val wG = Window.partitionBy("__g")
    val rb = keyed.select(c(path).as("__pfx"),
      (col("__v") / sum("__v").over(wG)).as("__r"),
      (coalesce(sum("__v").over(wG.orderBy(c(id))
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0.0))
        / sum("__v").over(wG)).as("__b"))
    val prefixes = base
      .select(Seq(c(id), c(path)) ++ keep :+ size(c(path)).as("__d"): _*)
      .withColumn("__k", explode(sequence(lit(lo), col("__d"))))
      .select(Seq(c(id), col("__d")) ++ keep ++
        Seq(col("__k"), slice(c(path), lit(1), col("__k")).as("__pfx")): _*)
    // ordered ancestor fold: width = prod of r top-down, x0 = sum of b·(prefix prod).
    // The accumulator's fields must be nullable: a null value makes its node's
    // width and its whole subtree's geometry null (as in the layer loop); with
    // the literal zero's non-null fields the nulls read back as 0.0.
    val acc = prefixes.join(rb, "__pfx")
      .groupBy(Seq(c(id), col("__d")) ++ keep: _*)
      .agg(aggregate(
        array_sort(collect_list(struct(col("__k"), col("__r"), col("__b")))),
        struct(lit(1.0).as("p"), lit(0.0).as("x")).cast("struct<p:double,x:double>"),
        (a, e) => struct(
          (a.getField("p") * e.getField("__r")).as("p"),
          (a.getField("x") + e.getField("__b") * a.getField("p")).as("x"))).as("__a"))
    acc.select(Seq(c(id), col("__d").cast("int").as("depth"),
        (col("__a.x") * twoPi).as("x0"), (col("__a.p") * twoPi).as("width")) ++ keep :+
      (col("__a.p") * twoPi >= lit(math.Pi) / (col("__d") - lo + 32)).as("labeled"): _*)
  }
  /** Multi-profile merge (SURVEY B17): metric columns differ per file, so align by
    * name and fill the gaps with nulls.
    */
  def merge(frames: Seq[DataFrame]): DataFrame =
    frames.reduce(_.unionByName(_, allowMissingColumns = true))
}
