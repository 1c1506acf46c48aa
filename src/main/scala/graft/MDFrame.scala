package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Spark-native re-expression of the reference dataframe's data model
  * (SURVEY.md §1): a relational `DataFrame` plus an index that is *metadata
  * over ordinary columns* — a name list, never a physical structure
  * (reference: medvedi/dataframe.py:306-353).
  *
  * All heavy lifting is delegated to Catalyst/Tungsten; this wrapper only
  * encodes the reference's *semantics* (index bookkeeping, dtype-zero fill,
  * keep-first/last dedup, the null model) as plan fragments.
  *
  * `objectCols` marks columns whose reference dtype was `object` — their
  * missing-value fill is `null`, while native fixed-width string columns
  * fill with `""` (reference `_empty_array`, dataframe.py:1339-1346).
  */
final case class MDFrame(
    ds: DataFrame,
    index: Seq[String] = Nil,
    objectCols: Set[String] = Set.empty) {

  require(index.forall(ds.columns.contains),
    s"index columns ${index.filterNot(ds.columns.contains)} missing from frame")

  def spark: SparkSession = ds.sparkSession
  def columns: Seq[String] = ds.columns.toSeq
  def valueColumns: Seq[String] = columns.filterNot(index.contains)

  // -- reference properties: empty / shape (dataframe.py:464-475)
  def isEmpty: Boolean = ds.isEmpty
  def shape: (Long, Int) = (ds.count(), ds.columns.length)

  // -- Index accessor sugar (reference Index.name/names/values/
  //    get_level_values/levels, dataframe.py:113-153): the index is
  //    column METADATA here, so each accessor is a named projection of
  //    the parent frame — same arity rules, engine-shaped returns.
  def indexNames: Seq[String] = index
  def indexName: String = {
    require(index.size == 1,
      s"Index must be 1-D to use .name, have ${index.size}-D")
    index.head
  }
  def indexValues: DataFrame = {
    require(index.size == 1,
      s"Index.values require a single index level but got " +
        s"${index.size} $index, use levelValues(0) instead")
    ds.select(index.head)
  }
  def levelValues(n: Int): DataFrame = {
    require(n >= 0 && n < index.size,
      s"Level out of range: $n >= ${index.size}")
    ds.select(index(n))
  }
  def indexLevels: Seq[DataFrame] = index.indices.map(levelValues)

  /** The engine form of the reference's testing.assert_index_equal
    * (testing.py:33-37): same level names AND multiset-equal level
    * rows. Like [[frameEquals]], two exceptAll probes — no collect. */
  def indexEquals(other: MDFrame): Boolean =
    index == other.index && {
      if (index.isEmpty) true
      else {
        val a = ds.select(index.map(col): _*)
        val b = other.ds.select(other.index.map(col): _*)
        a.schema == b.schema && a.exceptAll(b).isEmpty &&
          b.exceptAll(a).isEmpty
      }
    }

  // -- P1/P2: projection; index columns are always dragged along
  //    (dataframe.py:388-392)
  def select(cols: String*): MDFrame =
    copy(ds = ds.select((cols ++ index.filterNot(cols.contains)).map(col): _*))

  // -- P3: add/replace column (a scalar is `lit(v)`)
  def withColumn(name: String, c: Column): MDFrame = copy(ds = ds.withColumn(name, c))

  // -- P4: drop column; dropping an index member is forbidden
  //    (dataframe.py:434-435) and an unknown column raises
  //    (tests/test_columns.py: KeyError) — Spark's drop would silently
  //    ignore it, hiding typos
  def drop(cols: String*): MDFrame = {
    val unknown = cols.filterNot(ds.columns.contains)
    require(unknown.isEmpty, s"drop: unknown columns $unknown")
    val bad = cols.filter(index.contains)
    require(bad.isEmpty, s"cannot delete index columns $bad")
    copy(ds = ds.drop(cols: _*))
  }

  // -- P6: bulk rename incl. index names (dataframe.py:789-821)
  def rename(mapping: Map[String, String], errors: String = "raise"): MDFrame = {
    val missing = mapping.keys.filterNot(ds.columns.contains)
    if (errors == "raise")
      require(missing.isEmpty, s"rename: unknown columns $missing")
    val eff = mapping -- missing
    MDFrame(
      ds.withColumnsRenamed(eff),
      index.map(c => eff.getOrElse(c, c)),
      objectCols.map(c => eff.getOrElse(c, c)))
  }

  // -- P7: cast columns; errors ∈ {raise, ignore} for unknown columns
  //    (dataframe.py:550-579)
  def astype(types: Map[String, DataType], errors: String = "raise"): MDFrame = {
    val missing = types.keys.filterNot(ds.columns.contains)
    if (errors == "raise")
      require(missing.isEmpty, s"astype: unknown columns $missing")
    val eff = types -- missing
    copy(ds = eff.foldLeft(ds) { case (d, (c, t)) => d.withColumn(c, col(c).cast(t)) })
  }

  // -- P8/R1: boolean-mask filter (medvedi `take(mask)`, dataframe.py:484-510)
  def take(cond: Column): MDFrame = copy(ds = ds.filter(cond))

  // -- P9: isin membership incl. invert (dataframe.py:901-929). The
  //    reference casts the haystack to the column dtype (numpy astype:
  //    floats truncate into int columns, tests/test_isin.py:20-23) and
  //    raises on un-castable combinations — mirrored here.
  def isinMask(c: String, haystack: Seq[Any], invert: Boolean = false): Column = {
    require(ds.columns.contains(c), s"unknown column $c")
    val dt = ds.schema(c).dataType
    // null cells: not a member (reference in1d: None ∉ haystack) — so the
    // three-valued SQL null must resolve to false BEFORE inversion, else
    // inverted masks silently drop null rows
    val m = coalesce(col(c).isin(haystack.map(MDFrame.coerceTo(_, dt, c)): _*), lit(false))
    if (invert) !m else m
  }
  def filterIsin(c: String, haystack: Seq[Any], invert: Boolean = false): MDFrame =
    take(isinMask(c, haystack, invert))

  // -- P10: null mask with the reference's per-dtype semantics
  //    (dataframe.py:948-978): float → NaN, timestamp/interval → null,
  //    object → null, integers/booleans/fixed strings → NEVER null.
  def isnullMask(c: String): Column = ds.schema(c).dataType match {
    case FloatType | DoubleType       => isnan(col(c)) || col(c).isNull
    case TimestampType | DateType     => col(c).isNull
    case _: DayTimeIntervalType       => col(c).isNull
    case StringType if !objectCols(c) => lit(false) // fixed-width S/U strings
    case ByteType | ShortType | IntegerType | LongType | BooleanType => lit(false)
    case _                            => col(c).isNull
  }

  // -- P11: fillna (dataframe.py:1006-1030); NaN and null both count as
  //    missing for float columns, mirroring the reference null model.
  def fillna(value: Any, cols: Seq[String] = Nil): MDFrame = {
    val targets = if (cols.isEmpty) columns else cols
    copy(ds = targets.foldLeft(ds) { (d, c) =>
      // coerce the fill value to the column dtype in Scala (ANSI mode is
      // on — a SQL cast of an incompatible literal would throw at
      // runtime); columns the value can't fill are left untouched, the
      // reference's fill-where-applicable behavior (dataframe.py:1006-1030)
      val coerced =
        try Some(MDFrame.coerceTo(value, d.schema(c).dataType, c))
        catch {
          case _: IllegalArgumentException =>
            // object columns accept ANY fill value in the reference
            // (tests/test_fillna.py fills an object str column with int 5);
            // the closest typed-column rendering is its string form
            d.schema(c).dataType match {
              case StringType if objectCols(c) => Some(value.toString)
              case _ => None
            }
        }
      coerced match {
        case None => d
        case Some(cv) =>
          d.schema(c).dataType match {
            case FloatType | DoubleType =>
              d.withColumn(c,
                when(isnan(col(c)) || col(c).isNull, lit(cv)).otherwise(col(c)))
            case _ =>
              d.withColumn(c, coalesce(col(c), lit(cv)))
          }
      }
    })
  }

  // -- R2/R3: iloc — positional row access over an explicit total order
  //    (dataframe.py:264-287). Spark has no row order; the caller names one.
  def iloc(i: Int, orderBy: Seq[String]): Row = {
    require(orderBy.nonEmpty, "iloc needs a total order at scale")
    val sorted = ds.orderBy(orderBy.map(col): _*)
    (if (i >= 0) sorted.offset(i).limit(1)
     else sorted.orderBy(orderBy.map(col(_).desc): _*).offset(-i - 1).limit(1))
      .head()
  }

  def ilocSlice(start: Int, end: Int, orderBy: Seq[String]): MDFrame =
    copy(ds = ds.orderBy(orderBy.map(col): _*).offset(start).limit(end - start))

  // -- R4: sample (dataframe.py:523-548)
  def sample(fraction: Double, replace: Boolean = false, seed: Long = 42L): MDFrame =
    copy(ds = ds.sample(replace, fraction, seed))

  /** Exact-n uniform sample (the reference's `n=` parameter): random-key
    * top-n, one pass + TakeOrdered. */
  def sampleN(n: Int, seed: Long = 42L): MDFrame =
    copy(ds = ds.orderBy(rand(seed)).limit(n))

  /** Weighted sample without replacement (reference `weights=` parameter):
    * the exponential-keys trick (Efraimidis-Spirakis) — order by
    * -ln(u)/w, take n. One pass + a TakeOrdered top-n; no driver-side
    * collection.
    */
  def sampleWeighted(n: Int, weightCol: String, seed: Long = 42L): MDFrame = {
    val wkey = MDFrame.freshName(ds.columns.toSeq, "_wkey")
    copy(ds = ds
      .withColumn(wkey, -log(rand(seed)) / col(weightCol))
      .orderBy(col(wkey))
      .limit(n)
      .drop(wkey))
  }

  /** Weighted sample WITH replacement (reference sample(n, weights,
    * replace=True), dataframe.py:523-548): n independent weighted draws in
    * ONE pass over the data — each draw keeps the row minimizing an
    * independent exponential key (the Efraimidis-Spirakis key for a single
    * pick ≡ one draw ∝ weight), realized as n min_by aggregates. The input
    * is never replicated and nothing loops on the driver; n (the sample
    * size) is small, the scan (the dataset) is what's huge.
    */
  def sampleWeightedReplace(n: Int, weightCol: String, seed: Long = 42L): MDFrame = {
    require(n > 0, "sample size must be positive")
    val all = struct(ds.columns.toIndexedSeq.map(col): _*)
    // keys materialize in a projection first — Catalyst (correctly) rejects
    // nondeterministic expressions inside aggregate arguments
    val withKeys = (0 until n).foldLeft(ds) { (d, j) =>
      d.withColumn(s"_k$j", -log(rand(seed + j)) / col(weightCol))
    }
    val aggs = (0 until n).map(j => min_by(all, col(s"_k$j")).as(s"_d$j"))
    val one = withKeys.agg(aggs.head, aggs.tail: _*)
    copy(ds = one
      .select(explode(array((0 until n).map(j => col(s"_d$j")): _*)).as("_r"))
      .select(col("_r.*")))
  }

  /** frac= combined with weights/replace (the reference computes
    * n = round(frac·len) then delegates). The count is one cheap
    * metadata-ish job (parquet row-group counts when the frame is a
    * plain scan); at 100 TB with a transformed lineage it is one full
    * pass — callers that already know the cardinality (a catalog
    * row count, a previous action) should pass it via `rowCount`
    * and skip the job entirely. The sampling itself stays single-pass.
    */
  def sampleFracWeighted(frac: Double, weightCol: String,
      replace: Boolean = false, seed: Long = 42L,
      rowCount: Option[Long] = None): MDFrame = {
    val n = math.round(frac * rowCount.getOrElse(ds.count())).toInt
    if (replace) sampleWeightedReplace(n, weightCol, seed)
    else sampleWeighted(n, weightCol, seed)
  }

  /** Deterministic Bernoulli sample: a row is kept iff the first 12 hex
    * chars of md5(salt:id) — a uniform 48-bit integer — fall below
    * frac·2^48. Engine-portable (the same rows fall out in any engine),
    * reproducible across runs, and a pure codegen'd filter: no shuffle, no
    * RNG state, trivially correct under task retries at any scale.
    */
  def sampleDeterministic(frac: Double, idCol: String, salt: String = "smp"): MDFrame = {
    require(frac >= 0.0 && frac <= 1.0, s"frac=$frac out of [0,1]")
    copy(ds = ds.filter(
      expr(graft.ops.TextAnalysis.hexToIntSql(s"md5(concat('$salt:', $idCol))", 12))
        < lit(MDFrame.bernoulliThreshold(frac))))
  }

  /** Deterministic variant: u is derived from md5(idCol) instead of a
    * session RNG, so the same sample falls out in any engine / any run —
    * reproducible training-data subsampling, oracle-checkable.
    */
  def sampleWeightedDeterministic(n: Int, weightCol: String, idCol: String,
      salt: String = "ws"): MDFrame = {
    // concat implicitly casts the id to string in both Spark and DuckDB
    // (an explicit cast would need STRING here but VARCHAR there)
    val u = (expr(graft.ops.TextAnalysis.hexToIntSql(
      s"md5(concat('$salt:', $idCol))", 12)) + lit(1)) /
      lit(281474976710657.0) // 2^48 + 1 → u ∈ (0, 1]
    val wkey = MDFrame.freshName(ds.columns.toSeq, "_wkey")
    copy(ds = ds
      .withColumn(wkey, round(-log(u) / col(weightCol), 9))
      .orderBy(col(wkey), col(idCol))
      .limit(n)
      .drop(wkey))
  }

  // -- R1: positional take at scale. A range partition on `orderBy` makes
  //    partition order = global order; zipWithIndex then numbers rows with
  //    two parallel passes (per-partition counts, then offsets) — no
  //    single-partition window funnel (the no-partition row_number()
  //    anti-pattern this replaces).
  def takePositions(positions: Seq[Long], orderBy: Seq[String],
      posCol: String = "pos"): MDFrame = {
    require(orderBy.nonEmpty, "positional take needs a total order at scale")
    val sorted = ds.repartitionByRange(orderBy.map(col): _*)
      .sortWithinPartitions(orderBy.map(col): _*)
    copy(ds = MDFrame.withRowPos(sorted, posCol)
      .filter(col(posCol).isin(positions: _*)))
  }

  // -- R5: iterrows — driver-side iteration without materializing the
  //    whole frame (dataframe.py:476-482 → toLocalIterator).
  def iterrows(cols: String*): Iterator[Row] = {
    import scala.jdk.CollectionConverters._
    (if (cols.isEmpty) ds else ds.select(cols.map(col): _*))
      .toLocalIterator().asScala
  }

  /** Multiset row equality with identical schema — the engine form of the
    * reference's testing.assert_frame_equal. Two exceptAll probes (each a
    * hash anti-semantics aggregation) — no collect, order-insensitive. */
  def frameEquals(other: MDFrame): Boolean =
    ds.schema == other.ds.schema && index == other.index &&
      ds.exceptAll(other.ds).isEmpty && other.ds.exceptAll(ds).isEmpty

  /** Exact column profile (the S6/P5 summary surface, made checkable):
    * one row per requested numeric column — count, nulls (per the
    * reference null model), min, max, DECIMAL-exact sum. ONE pass over
    * the data: every column's aggregates run in a single aggregation,
    * then a stack() generator pivots the 1-row result to a row per
    * column. */
  def describeExact(cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty && cols.forall(ds.columns.contains))
    val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(
        count(lit(1)).as(s"_n$i"),
        count(when(isnullMask(c), 1)).as(s"_nl$i"),
        min(MDFrame.nanToNull(ds, c)).cast("double").as(s"_mn$i"),
        max(MDFrame.nanToNull(ds, c)).cast("double").as(s"_mx$i"),
        sum(col(c).cast("decimal(18,2)")).cast("double").as(s"_sm$i"))
    }
    val one = ds.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.zipWithIndex
      .map { case (c, i) => s"'$c', _n$i, _nl$i, _mn$i, _mx$i, _sm$i" }
      .mkString(", ")
    one.selectExpr(
      s"stack(${cols.size}, $stackArgs) AS (col_name, n, n_null, min_v, max_v, sum_v)")
  }

  // -- T2: set_index / reset_index are metadata-only (dataframe.py:719-787)
  def setIndex(cols: String*): MDFrame = {
    require(cols.forall(ds.columns.contains), s"set_index: unknown columns")
    copy(index = cols)
  }
  def resetIndex(drop: Boolean = false): MDFrame =
    if (drop) MDFrame(ds.drop(index: _*), Nil, objectCols -- index)
    else copy(index = Nil)

  /** set_index with external (unnamed) index levels (dataframe.py:736-754,
    * tests/test_init.py:63-67): each level is materialized as a synthetic
    * column `_index{i}` and the index becomes those names. The Spark form
    * of an "external array" is a Column expression — at scale an index
    * never arrives as a driver-side array. Mirrors the reference's error
    * on a pre-existing `_index{i}` column.
    */
  def setIndexArrays(levels: Seq[Column], drop: Boolean = false): MDFrame = {
    require(levels.nonEmpty, "set_index needs at least one level")
    val named = levels.zipWithIndex.map { case (e, i) => (s"_index$i", e) }
    // `drop` mirrors the reference's set_index(drop=): an existing
    // `_index{i}` column is only overwritten when drop is requested
    named.foreach { case (n, _) =>
      require(drop || !ds.columns.contains(n),
        s"""Cannot set an unnamed index "$n": column already exists""")
    }
    val d2 = named.foldLeft(ds) { case (d, (n, e)) => d.withColumn(n, e) }
    MDFrame(d2, named.map(_._1), objectCols)
  }

  // -- O1: multi-column sort; single global `ascending` flag and
  //    NaN/NaT placement via na_position (dataframe.py:623-671).
  def sortValues(by: Seq[String], ascending: Boolean = true,
      naPosition: String = "last"): MDFrame = {
    require(by.nonEmpty, "sort_values needs at least one column")
    require(by.forall(ds.columns.contains),
      s"unknown columns ${by.filterNot(ds.columns.contains)}")
    val keys = by.map { c =>
      val base = ds.schema(c).dataType match {
        // medvedi na_position governs NaN too; Spark sorts NaN as largest
        // double, so route NaN through null ordering for parity.
        case FloatType | DoubleType => when(isnan(col(c)), lit(null)).otherwise(col(c))
        case _ => col(c)
      }
      (ascending, naPosition) match {
        case (true, "first")  => base.asc_nulls_first
        case (true, _)        => base.asc_nulls_last
        case (false, "first") => base.desc_nulls_first
        case (false, _)       => base.desc_nulls_last
      }
    }
    copy(ds = ds.orderBy(keys: _*))
  }

  // -- G1: grouping delegates to Catalyst hash aggregation; the reference's
  //    Grouper(order, counts) + user-ufunc model (dataframe.py:866-899)
  //    becomes groupBy().agg(...). An unknown column raises eagerly
  //    (tests/test_groupby.py KeyError) rather than at action time.
  def groupby(by: String*) = {
    val unknown = by.filterNot(ds.columns.contains)
    require(unknown.isEmpty, s"groupby: unknown columns $unknown")
    ds.groupBy(by.map(col): _*)
  }

  // -- G1: grouping by EXTERNAL key expressions (the reference's
  //    groupby(array) form, tests/test_groupby.py test_groupby_external):
  //    in Spark an external key is a Column expression over the frame.
  def groupbyExpr(keys: Column*) = ds.groupBy(keys: _*)

  // -- G4: per-group iteration in SORTED-KEY order, the reference's
  //    `for group in df.groupby(...)` contract (Grouper.__iter__,
  //    dataframe.py:236-261: keys ascend because np.unique sorts; rows
  //    within a group keep their original positional order). Driver-side
  //    by design — the reference's iterator also runs on one node; for
  //    DISTRIBUTED per-group work use groupby().agg or typed mapGroups
  //    (q40). Scale shape: range-repartition on (keys, pos) + in-partition
  //    sort, streamed one partition at a time via toLocalIterator — the
  //    driver holds one GROUP, never the frame.
  def iterGroups(by: String*): Iterator[(Seq[Any], Seq[Row])] = {
    require(by.nonEmpty, "iterGroups needs at least one key column")
    val unknown = by.filterNot(ds.columns.contains)
    require(unknown.isEmpty, s"iterGroups: unknown columns $unknown")
    import scala.jdk.CollectionConverters._
    val posCol = MDFrame.freshName(ds.columns.toSeq, "_pos")
    val d = MDFrame.withRowPos(ds, posCol)
    val sortCols = by.map(col) :+ col(posCol)
    val it = d.repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .toLocalIterator().asScala.buffered
    // binary key columns surface as Array[Byte], whose == is reference
    // equality — normalize to Seq so value-equal keys group together
    // (group keys are returned in the same normalized form)
    val keyOf = (r: Row) => by.map(c => r.getAs[Any](c) match {
      case a: Array[_] => a.toSeq
      case v => v
    })
    val posIdx = d.columns.length - 1 // _pos is appended last
    val outSchema = ds.schema
    new Iterator[(Seq[Any], Seq[Row])] {
      def hasNext: Boolean = it.hasNext
      def next(): (Seq[Any], Seq[Row]) = {
        val key = keyOf(it.head)
        val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
        while (it.hasNext && keyOf(it.head) == key)
          buf += new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
            it.next().toSeq.patch(posIdx, Nil, 1).toArray, outSchema)
        (key, buf.toSeq)
      }
    }
  }

  // -- G5: distinct values of one column (dataframe.py:931-946). np.unique
  //    SORTS by default; unordered=true skips the sort (cheaper at scale,
  //    the reference's fast path).
  def unique(c: String, unordered: Boolean = false): DataFrame = {
    val d = ds.select(c).distinct()
    if (unordered) d else d.orderBy(col(c))
  }

  // -- G6: drop_duplicates with keep=first/last (dataframe.py:823-847,
  //    _unique 1318-1337). The reference emits survivors in *key-sorted*
  //    order (np.unique sorts); `keep` picks which positional occurrence
  //    survives. Positional semantics need a total order; callers at scale
  //    should pass an explicit `orderCol`, otherwise one is derived from the
  //    current row order (see withRowPos).
  //    An empty `subset` means ALL columns, like the reference's
  //    `subset=None` (dataframe.py:825-835, tests/test_duplicates.py:88-94).
  def dropDuplicates(subset: Seq[String] = Nil, keep: String = "first",
      orderCols: Seq[String] = Nil): MDFrame = {
    require(subset.forall(ds.columns.contains),
      s"unknown columns ${subset.filterNot(ds.columns.contains)}")
    // derived all-columns keys exclude orderCols: partitioning by the order
    // column would make every row its own group (dedup no-op)
    val keys = if (subset.isEmpty) ds.columns.toSeq.diff(orderCols) else subset
    if (keys.isEmpty) return this // zero-column frame: nothing to compare
    val posTmp = MDFrame.freshName(ds.columns.toSeq, "_pos")
    val (d, pos) = orderCols match {
      case Nil => (MDFrame.withRowPos(ds, posTmp), Seq(posTmp))
      case cs  => (ds, cs)
    }
    val rn = MDFrame.freshName(d.columns.toSeq, "_rn")
    val ord = pos.map(c => if (keep == "last") col(c).desc else col(c).asc)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
    val out = d.withColumn(rn, row_number().over(w))
      .filter(col(rn) === 1).drop(rn)
      .orderBy(keys.map(col): _*)
    copy(ds = if (orderCols.isEmpty) out.drop(posTmp) else out)
  }

  // -- G7: duplicated mask (dataframe.py:849-864) — rows whose key appears
  //    before (keep=first) / after (keep=last) them.
  //    Empty `subset` = all columns, like the reference's subset=None.
  def duplicated(subset: Seq[String] = Nil, keep: String = "first",
      orderCols: Seq[String] = Nil): DataFrame = {
    val keys = if (subset.isEmpty) ds.columns.toSeq.diff(orderCols) else subset
    // zero key columns → nothing to compare → no duplicates, matching
    // dropDuplicates' no-op (and avoiding a partitionless global window)
    if (keys.isEmpty) return ds.withColumn("_dup", lit(false))
    val posTmp = MDFrame.freshName(ds.columns.toSeq, "_pos")
    val (d, pos) = orderCols match {
      case Nil => (MDFrame.withRowPos(ds, posTmp), Seq(posTmp))
      case cs  => (ds, cs)
    }
    val ord = pos.map(c => if (keep == "last") col(c).desc else col(c).asc)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
    // `_dup` is the documented OUTPUT column (withColumn replaces any
    // pre-existing one); only the positional temp needs a fresh name
    val out = d.withColumn("_dup", row_number().over(w) > 1).orderBy(pos.map(col): _*)
    if (orderCols.isEmpty) out.drop(posTmp) else out
  }

  // -- G8: null-ignoring scalar min/max; NaN excluded like the reference's
  //    nonemin/nonemax (dataframe.py:980-1004).
  def nonemin(c: String): Any = ds.agg(min(MDFrame.nanToNull(ds, c))).head().get(0)
  def nonemax(c: String): Any = ds.agg(max(MDFrame.nanToNull(ds, c))).head().get(0)

  // -- G9: index key-property checks (dataframe.py:65-110)
  def indexIsUnique: Boolean = {
    val r = ds.agg(count(lit(1)), count_distinct(struct(index.map(col): _*))).head()
    r.getLong(0) == r.getLong(1)
  }

  /** Multi-level lexicographic monotonicity over an explicit order
    * (dataframe.py:73-110), checked WITHOUT a global single-partition
    * window: a range partition on `orderBy` makes partition order = global
    * order, each partition checks its own adjacency in parallel (lag
    * partitioned by partition id), and partition boundaries are compared
    * on a tiny one-row-per-partition summary (first/last index tuple via
    * min_by/max_by). One job, no stage funnels the full frame through one
    * task.
    */
  def indexIsMonotonic(orderBy: Seq[String], increasing: Boolean = true): Boolean = {
    val ranged = ds.repartitionByRange(orderBy.map(col): _*)
      .select(struct(orderBy.map(col): _*).as("_ord"),
        struct(index.map(col): _*).as("_idx"))
      .withColumn("_pid", spark_partition_id())
    def le(a: Column, b: Column) =
      a.isNull || (if (increasing) a <= b else a >= b)
    val wIn = Window.partitionBy(col("_pid")).orderBy(col("_ord"))
    val perPart = ranged
      .withColumn("_ok", le(lag(col("_idx"), 1).over(wIn), col("_idx")))
      .groupBy(col("_pid"))
      .agg(min(col("_ok")).as("ok"),
        min_by(col("_idx"), col("_ord")).as("first_idx"),
        max_by(col("_idx"), col("_ord")).as("last_idx"))
    // one row per partition: a global window over this summary is O(parts)
    val wB = Window.orderBy(col("_pid"))
    val r = perPart
      .withColumn("_bok", le(lag(col("last_idx"), 1).over(wB), col("first_idx")))
      .agg(min(col("ok") && col("_bok"))).head()
    r.isNullAt(0) || r.getBoolean(0) // empty frame → trivially monotonic
  }

  // -- J6: Index.diff — anti-join on index values (dataframe.py:169-186)
  def indexDiff(other: MDFrame): MDFrame = {
    val otherKeys = other.ds
      .select(other.index.zip(index).map { case (o, s) => col(o).as(s) }: _*)
      .distinct()
    copy(ds = ds.join(otherKeys, index, "left_anti"))
  }

  // -- T1: explode with scalar passthrough (dataframe.py:581-606): array
  //    columns flatten (replicating the other columns); a non-array column
  //    is a plain copy — the reference's scalar-cell behavior. A null cell
  //    passes through as ONE row holding null — the reference passes any
  //    non-list value through unchanged, None included
  //    (tests/test_explode.py:10-21); plain Spark explode would drop it.
  //    An empty array still yields zero rows (it IS a list, with no
  //    elements — same as the reference).
  def explodeCol(c: String, ignoreIndex: Boolean = false): MDFrame = {
    val out = ds.schema(c).dataType match {
      case ArrayType(elem, _) =>
        val others = columns.filterNot(_ == c)
        val cells = when(col(c).isNull, array(lit(null).cast(elem))).otherwise(col(c))
        copy(ds = ds.select(others.map(col) :+ explode(cells).as(c): _*)
          .select(columns.map(col): _*))
      case _ => this
    }
    if (ignoreIndex) out.resetIndex() else out
  }
}

object MDFrame {

  /** floor(frac·2^48) — the integer keep-threshold for md5-Bernoulli
    * sampling, computed once in Scala so Spark and the DuckDB oracle embed
    * the identical literal. */
  def bernoulliThreshold(frac: Double): Long =
    math.floor(frac * 281474976710656.0).toLong // 2^48

  /** A column name not present in `taken` (temp-column collision guard). */
  private[graft] def freshName(taken: Seq[String], base: String): String =
    Iterator.iterate(base)(_ + "_").dropWhile(taken.contains).next()

  /** Stable 0-based row position in the frame's current order. RDD
    * zipWithIndex is the one legitimate non-declarative escape hatch
    * (SURVEY.md §7.4 hard part 1): positional semantics need a total order
    * that Spark does not natively carry. Prefer passing an explicit order
    * column at scale.
    */
  def withRowPos(df: DataFrame, posCol: String): DataFrame = {
    val schema = df.schema.add(StructField(posCol, LongType, nullable = false))
    val rdd = df.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ i) }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** Reference haystack coercion (numpy astype semantics): numbers
    * truncate into integral columns, widen into float columns; anything
    * un-castable raises (tests/test_isin.py bad-dtype contract).
    */
  private[graft] def coerceTo(v: Any, dt: DataType, c: String): Any = (v, dt) match {
    case (null, _) => null
    case (x: Number, ByteType) => x.byteValue
    case (x: Number, ShortType) => x.shortValue
    case (x: Number, IntegerType) => x.intValue
    case (x: Number, LongType) => x.longValue
    case (x: Number, FloatType) => x.floatValue
    case (x: Number, DoubleType) => x.doubleValue
    case (x: String, StringType) => x
    case (x: Boolean, BooleanType) => x
    case (x: java.sql.Timestamp, TimestampType) => x
    case _ => throw new IllegalArgumentException(
      s"isin: haystack value $v (${v.getClass.getSimpleName}) incompatible with $c: $dt")
  }

  private[graft] def nanToNull(df: DataFrame, c: String): Column =
    df.schema(c).dataType match {
      case FloatType | DoubleType => when(isnan(col(c)), lit(null)).otherwise(col(c))
      case _ => col(c)
    }

  /** The reference's missing-slot fill value per dtype (`_empty_array`,
    * dataframe.py:1339-1346): ints→0, fixed strings→"", bool→false,
    * float→NaN, timestamps→NaT(null), object→None(null).
    *
    * Model note: in the reference, non-object columns can never hold null,
    * so after a join/concat every null in such a column IS a missing slot
    * — coalescing whole columns is exact under that model. Frames whose
    * non-object columns carry genuine SQL nulls (e.g. built from an
    * upstream Spark outer join) must mark them in `objectCols` to keep
    * those nulls.
    */
  def zeroOf(dt: DataType, isObject: Boolean): Option[Column] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some(lit(0).cast(dt))
    case FloatType | DoubleType  => Some(lit(Double.NaN).cast(dt))
    case StringType if !isObject => Some(lit(""))
    case BooleanType             => Some(lit(false))
    case BinaryType              => Some(lit(Array.emptyByteArray))
    case _                       => None // timestamp/interval/object/array → null
  }

  private def zeroFill(df: DataFrame, cols: Seq[String], objectCols: Set[String]): DataFrame =
    cols.foldLeft(df) { (d, c) =>
      zeroOf(d.schema(c).dataType, objectCols(c)) match {
        case Some(z) => d.withColumn(c, coalesce(col(c), z))
        case None    => d
      }
    }

  /** N-way equi-join on the index (reference J1-J5, dataframe.py:1126-1284).
    *
    * Semantics ported:
    *   - frames join by index *position*: each frame's index columns are
    *     renamed to the first frame's index names;
    *   - `how ∈ {left, right, inner, outer}`; `right` = reversed `left`
    *     (dataframe.py:1134-1135);
    *   - per-frame `suffixes`; same-named unsuffixed value columns are
    *     overwritten by the rightmost frame (tests/test_join.py:172-178);
    *   - non-matched slots get dtype zero, not null (J4);
    *   - output ordered by the index key (J5).
    *
    * Divergence (documented, SURVEY.md §7.4): duplicate keys in non-first
    * frames raise NotImplementedError in the reference; Spark handles m:n
    * joins natively, so they are allowed here — a strict superset.
    *
    * Scale: each pairwise join is a plain Catalyst equi-join — AQE picks
    * broadcast-hash for small frames, sort-merge otherwise; nothing here
    * collects to the driver.
    */
  def join(how: String, frames: Seq[MDFrame],
      suffixes: Seq[Option[String]] = Nil): MDFrame = {
    require(frames.nonEmpty && frames.size <= 255, "join takes 1..255 frames")
    require(frames.forall(_.index.nonEmpty), "all frames must have an index")
    val arity = frames.head.index.size
    require(frames.forall(_.index.size == arity), "index arity mismatch")
    // index dtypes must match level-by-level (dataframe.py:1164-1170) —
    // Spark would otherwise implicit-cast the join keys silently
    val headTypes = frames.head.index.map(c => frames.head.ds.schema(c).dataType)
    frames.tail.foreach { f =>
      val types = f.index.map(c => f.ds.schema(c).dataType)
      require(types == headTypes,
        s"index dtype mismatch: $headTypes vs $types")
    }

    if (how == "right")
      return join("left", frames.reverse,
        if (suffixes.isEmpty) Nil else suffixes.reverse)

    val keyNames = frames.head.index
    val sfx = if (suffixes.isEmpty) Seq.fill(frames.size)(None) else suffixes
    require(sfx.size == frames.size, "one suffix per frame")

    // Rename index → first frame's names; apply value-column suffixes.
    val prepped = frames.zip(sfx).map { case (f, s) =>
      val keyRenamed = f.index.zip(keyNames).foldLeft(f.ds) {
        case (d, (from, to)) => if (from == to) d else d.withColumnRenamed(from, to)
      }
      val valueRenames = s match {
        case Some(suffix) => f.valueColumns.map(c => c -> s"$c$suffix").toMap
        case None         => Map.empty[String, String]
      }
      val d = keyRenamed.withColumnsRenamed(valueRenames)
      val objs = f.objectCols.map(c => valueRenames.getOrElse(c, c))
      (d, objs)
    }

    // Unsuffixed collisions: rightmost frame wins → drop from earlier frames.
    val valueColsPerFrame = prepped.map(_._1.columns.toSeq.filterNot(keyNames.contains))
    val deduped = prepped.zipWithIndex.map { case ((d, objs), i) =>
      val mine = valueColsPerFrame(i)
      val shadowedByLater = mine.filter(c => valueColsPerFrame.drop(i + 1).exists(_.contains(c)))
      (d.drop(shadowedByLater: _*), objs)
    }

    val sparkHow = how match {
      case "left"  => "left_outer"
      case "inner" => "inner"
      case "outer" => "full_outer"
      case other   => throw new IllegalArgumentException(s"how=$other")
    }
    val joined = deduped.map(_._1).reduceLeft { (a, b) =>
      a.join(b, keyNames, sparkHow)
    }
    val allObjs = deduped.flatMap(_._2).toSet
    val filled = zeroFill(joined, joined.columns.filterNot(keyNames.contains).toSeq, allObjs)
    MDFrame(filled.orderBy(keyNames.map(col): _*), keyNames, allObjs)
  }

  /** Vertical concat (reference U1/U2, dataframe.py:1068-1124).
    * `strict=true` requires identical column sets; `strict=false` unions
    * differing sets, filling missing cells with dtype zero (object → null).
    *
    * Dtype rule (tests/test_concat.py:96-111): the dtype of the FIRST
    * frame carrying a column wins — later frames' same-named columns are
    * cast to it before the union. (numpy promotes chunk dtypes instead;
    * first-wins is the pinned Spark rule — an ANSI cast raises on lossy
    * values, the same contract as astype(errors="raise").)
    */
  def concat(frames: Seq[MDFrame], strict: Boolean = true,
      ignoreIndex: Boolean = false): MDFrame = {
    require(frames.nonEmpty, "concat of zero frames")
    if (strict) {
      val cols = frames.head.columns.toSet
      require(frames.forall(_.columns.toSet == cols),
        "strict concat requires identical column sets")
    }
    val firstType = scala.collection.mutable.LinkedHashMap.empty[String, DataType]
    frames.foreach(_.ds.schema.fields.foreach(f =>
      if (!firstType.contains(f.name)) firstType(f.name) = f.dataType))
    val aligned = frames.map { f =>
      f.ds.schema.fields.foldLeft(f.ds) { (d, fd) =>
        if (fd.dataType == firstType(fd.name)) d
        else d.withColumn(fd.name, col(fd.name).cast(firstType(fd.name)))
      }
    }
    val unioned = aligned.reduceLeft(_.unionByName(_, allowMissingColumns = !strict))
    val allObjs = frames.flatMap(_.objectCols).toSet
    val filled =
      if (strict) unioned
      else zeroFill(unioned, unioned.columns.toSeq, allObjs)
    val idx = if (ignoreIndex) Nil else frames.head.index
    MDFrame(filled, idx, allObjs)
  }
}
