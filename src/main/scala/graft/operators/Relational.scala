package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftShims.materialize
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.functions.{KeepLast, Native}

/** The reference's relational transform surface (SURVEY.md §2.3–§2.4),
  * re-expressed as composable lazy DataFrame stages. Every stage is
  * plan-to-plan: Catalyst fuses the whole chain into one physical plan
  * (projection pruning + predicate pushdown reach the source scan), unlike
  * the reference's eager per-op materialization
  * (/root/reference/lime_survey_orders_shipped.py:55-74).
  */
object Relational {

  /** O9 — ordered column projection (`df[req_cols]`,
    * /root/reference/lime_survey_orders_shipped.py:55-56). */
  def project(cols: Seq[String])(df: DataFrame): DataFrame =
    df.select(cols.map(col): _*)

  /** O10 — drop rows with any null (`dropna()`,
    * /root/reference/lime_survey_orders_shipped.py:57). Nulls only —
    * empty strings are data and survive (SURVEY.md §7.4.2). */
  def dropNullsAny(df: DataFrame): DataFrame = df.na.drop("any")

  /** O11 — drop nulls on a column subset (`dropna(subset=...)`,
    * /root/reference/lime_survey_nps.py:70).
    *
    * `pushable = false` pins the null filter where it is written
    * ([[Parallelism.unpushable]]) instead of letting Catalyst push it
    * toward the scan — for the case where the subset columns are
    * computed by heavy narrow expressions above a
    * [[Parallelism.ensure]] widening: pushing the filter would
    * substitute those expressions into the predicate and drag them
    * below the exchange onto the single scan task. Default stays
    * pushable — on a plain scan the filter belongs in the reader. */
  def dropNulls(subset: Seq[String], pushable: Boolean = true)(
      df: DataFrame): DataFrame =
    if (pushable) df.na.drop("any", subset)
    else df.filter(Parallelism.unpushable(
      // exact na.drop semantics: it drops NaN as well as null on
      // float/double columns, so the pinned predicate must too — the
      // flag changes plan-time mobility only, never the row set
      subset.map { c =>
        df.schema(c).dataType match {
          case org.apache.spark.sql.types.DoubleType |
               org.apache.spark.sql.types.FloatType =>
            col(c).isNotNull && !isnan(col(c))
          case _ => col(c).isNotNull
        }
      }.reduce(_ && _)))

  /** O12 — bulk rename (`rename(columns=dict)`,
    * /root/reference/lime_survey_orders_shipped.py:60-66). */
  def renameAll(mapping: Map[String, String])(df: DataFrame): DataFrame =
    df.withColumnsRenamed(mapping)

  /** O13 — constant batch audit stamp
    * (/root/reference/lime_survey_orders_shipped.py:67). Injected as a
    * parameter so runs are reproducible (SURVEY.md §7.4.4); production
    * callers pass `date_format(current_timestamp(), ...)` which Catalyst
    * folds to one literal per query — matching the reference's
    * same-value-for-all-rows semantics. */
  def auditStamp(column: String, value: Column)(df: DataFrame): DataFrame =
    df.withColumn(column, value)

  /** O14/O15 — regex-strip + numeric cast
    * (`float(x.replace("A",""))` /root/reference/lime_survey_orders_shipped.py:74,
    * `float(re.sub("A|N","",x))` /root/reference/lime_survey_nps.py:73).
    * Built-in `RegExpReplace`+`TryCast` expressions — whole-stage
    * codegen'd, no UDF. `try_cast` so un-guarded non-numeric input yields
    * null instead of an ANSI runtime error (Spark 4 default); guarded
    * callers (membership first, reference order) never hit it. */
  def regexStripCast(column: String, pattern: String)(df: DataFrame): DataFrame =
    df.withColumn(column, regexp_replace(col(column), pattern, "").try_cast(DoubleType))

  /** O16 — membership filter (`isin`,
    * /root/reference/lime_survey_orders_shipped.py:73). Applied BEFORE the
    * numeric cast for cast safety, matching reference order. */
  def membership(column: String, allowed: Seq[String])(df: DataFrame): DataFrame =
    df.filter(col(column).isin(allowed: _*))

  /** O17 — date-range predicate (the survivor set of the reference's
    * idempotency DELETE, /root/reference/lime_survey_orders_shipped.py:111-119). */
  def rangeFilter(column: String, predicate: Column => Column)(df: DataFrame): DataFrame =
    df.filter(predicate(col(column)))

  /** O18 — multi-key global sort
    * (/root/reference/lime_survey_orders_shipped.py:69). Range-partitioned
    * shuffle. A sort that only feeds keep-last dedup is not needed at
    * all: [[keepLast]] ranks within each key itself. */
  def sortBy(keys: Seq[Column])(df: DataFrame): DataFrame = df.orderBy(keys: _*)

  /** O18+O19 — deterministic keep-last dedup per key
    * (`sort_values(...)` + `drop_duplicates(keep='last')`,
    * the reference's `lime_survey_orders_shipped.py:69-70`): per key,
    * the row that ranks first under `order` wins. Output columns, their order
    * and types are the input's.
    *
    * Contract: `order` must rank the WINNER first — the row kept is
    * `row_number() == 1` under the given order, so keep-last of an
    * ascending column is spelled `col("date").desc` (as every in-repo
    * caller does). The order must be total within a key: two rows of one
    * key that tie on the whole order RAISE
    * [[graft.functions.KeepLast.TieMessage]] in both forms below, so end
    * the order with a unique tie-breaker such as an ingest position
    * (pandas keep-last is position-stable; Spark `dropDuplicates` is
    * order-nondeterministic — SURVEY.md §7.4.1).
    *
    * Two plans, chosen from the input schema:
    *  - every non-key column and every order value fixed-width (the
    *    planner's own `Aggregate.supportsHashAggregate` test): one
    *    [[graft.functions.KeepLast]] arg-max aggregate —
    *    `HashAggregate` (partial) → `Exchange` → `HashAggregate`, no sort.
    *    The optimizer cannot prune columns out of an aggregate buffer, so
    *    callers select only the columns they use BEFORE calling this;
    *  - otherwise (a string payload, say) `row_number()` over a window:
    *    a per-key sort after one hash shuffle, with a `WindowGroupLimit`
    *    of 2 rows per key on each side of it. A string buffer would plan
    *    a `SortAggregate` that is not code-generated, which measured
    *    slower than the window. `rank()` over the same window checks the
    *    second row for the tie.
    */
  def keepLast(keys: Seq[String], order: Seq[Column])(df: DataFrame): DataFrame = {
    val rest = df.schema.filterNot(f => keys.contains(f.name))
    lazy val hashed = df.groupBy(keys.map(col): _*).agg(
      Native.keepLast(order, rest.map(f => col(f.name))).as("__kl"))
    // a variable-width payload column rules the hash form out without
    // analysing the aggregate
    if (keys.nonEmpty && rest.forall(f => UnsafeRow.isMutable(f.dataType)) &&
        hashAggregable(hashed))
      hashed.select(df.columns.toSeq.map(c =>
        if (keys.contains(c)) col(c) else col("__kl").getField(c).as(c)): _*)
    else {
      val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
      df.select(col("*"), row_number().over(w).as("__rn"), rank().over(w).as("__rk"))
        .filter(col("__rn") <= 2 &&
          when(col("__rn") === 2 && col("__rk") === 1,
            raise_error(lit(KeepLast.TieMessage))).otherwise(col("__rn") === 1))
        .drop("__rn", "__rk")
    }
  }

  /** Whether Spark plans `agg`'s aggregate as a `HashAggregate`: every
    * buffer field is fixed-width, the test its planner applies. */
  private def hashAggregable(agg: DataFrame): Boolean =
    agg.queryExecution.analyzed match {
      case a: Aggregate => Aggregate.supportsHashAggregate(
        a.aggregateExpressions.flatMap(_.collect {
          case ae: AggregateExpression => ae.aggregateFunction.aggBufferAttributes
        }.flatten), a.groupingExpressions)
      case _ => false
    }

  /** Top-k under a total order — generalizes O18 sort + O5's iLimit.
    * Spark plans this as TakeOrderedAndProject: per-partition top-k then a
    * k-row merge on the driver — no global sort shuffle at any scale. */
  def topK(k: Int, order: Seq[Column])(df: DataFrame): DataFrame =
    df.orderBy(order: _*).limit(k)

  /** CDC merge (MERGE INTO semantics, batch form): apply a change set to
    * a target table — a matched key takes the source row (update), an
    * unmatched source key inserts, an unmatched target row carries
    * through. The upsert half of the reference's delete-then-reload
    * idempotent window (O23), generalized from "replace a date range" to
    * "replace by key".
    *
    * NOT a full-outer join: both sides are tagged and unioned, then ONE
    * [[keepLast]] per key under `(priority desc, version desc)` — a
    * single shuffle with a map-side reduction, no join operator, and the
    * change set never needs to be broadcast (at 100 TB a CDC batch can
    * itself be huge). Which keep-last form runs follows the table's
    * columns: a hash aggregate when all are fixed-width, the window
    * otherwise. Within the source, the highest `versionCol` wins (a CDC batch may
    * carry several updates for one key); target rows all carry version
    * −∞ via the priority tag, so two target rows of one key tie and
    * raise keep-last's error: the target's keys must be unique.
    * Determinism is ENFORCED, not assumed (round 13: the 10× rehearsal
    * corpus manufactured a (key, version) tie between two source rows
    * and the engines silently diverged on which row won): two source
    * rows sharing (key, version) RAISE — the Delta MERGE
    * "multiple source rows matched" contract — instead of letting
    * keep-last pick one arbitrarily. Callers feed an ingest position as
    * the version, exactly like [[keepLast]]. The guard costs one extra
    * source-side aggregate (the source pre-collapses to one row per
    * (key, version)); the target side keeps its single-shuffle
    * no-join shape. */
  def mergeUpsert(target: DataFrame, source: DataFrame, keys: Seq[String],
      versionCol: Column): DataFrame = {
    val dataCols = target.columns.toSeq
    require(dataCols.forall(source.columns.contains),
      "source must carry every target column (extra version columns allowed)")
    val t2 = target.select(dataCols.map(col) :+
      lit(0L).as("__pri") :+ lit(0L).as("__ver"): _*)
    val rest = dataCols.filterNot(keys.contains)
    val s2 = source.select(dataCols.map(col) :+
        lit(1L).as("__pri") :+ versionCol.cast("long").as("__ver"): _*)
      .groupBy((keys :+ "__ver").map(col): _*)
      .agg(count(lit(1)).as("__c"),
        any_value(struct(rest.map(col): _*)).as("__r"))
      .select(keys.map(col) ++
        rest.map(c => col(s"__r.$c").as(c)) ++ Seq(
        lit(1L).as("__pri"),
        when(col("__c") > 1L,
          expr("raise_error('graft.mergeUpsert: multiple source rows " +
            "share one (key, version) - the merge would be " +
            "nondeterministic; feed a unique ingest position as the " +
            "version (see scaladoc)')").cast("long"))
          .otherwise(col("__ver")).as("__ver")): _*)
    keepLast(keys, Seq(col("__pri").desc, col("__ver").desc))(t2.unionByName(s2))
      .select(dataCols.map(col): _*)
  }

  /** Unpivot / melt — wide measure columns to (metric, value) rows, the
    * inverse of q47's pivot. Plans as a single Expand (one pass over the
    * input, rows×|values| out, no shuffle, no join): the shape that
    * turns a metrics-wide fact table into the long form aggregation
    * pipelines and plotting sinks want. */
  def melt(df: DataFrame, ids: Seq[String], values: Seq[String],
      varName: String = "metric", valName: String = "value"): DataFrame =
    df.unpivot(ids.map(col).toArray, values.map(col).toArray,
      varName, valName)

  /** Blocked fuzzy self-match: pairs of rows whose `textCol` is within
    * `maxDist` edit distance, compared ONLY inside equal `blockCols`
    * groups (plus a length-band prefilter — |len(a)−len(b)| > maxDist
    * can never match, and length reaches the join before the O(n·m)
    * Levenshtein does). The all-pairs nested loop becomes a
    * hash-partitioned equi-join on the block key: O(Σ block²)
    * comparisons, never O(n²) over the corpus — the same blocking
    * discipline as the MinHash/SimHash candidate generators, for the
    * entity-resolution case where "duplicate" means typos, not shared
    * shingles. Choose blocks like a dedup key: too coarse and one block
    * pins a task (the LSH maxBucket lesson), too fine and true matches
    * land in different blocks. */
  def fuzzySelfJoin(df: DataFrame, keyCol: String, textCol: String,
      blockCols: Seq[String], maxDist: Int,
      maxCell: Int = 4096): DataFrame = {
    require(maxDist >= 0 && blockCols.nonEmpty)
    // Widen the scan FIRST: the guard join and the pair join both
    // broadcast their build sides, so nothing downstream ever widens
    // the probe side — on a single-row-group parquet scan the entire
    // candidate enumeration AND the Levenshtein DP land on ONE task
    // (measured 3.8 s of a 4.1 s query at sf0.1, 32 cores idle).
    // `ensure` no-ops once a wide operator enters the lineage, so this
    // must happen before the guard join, not after.
    val src = Parallelism.ensure(df)
    // Length joins the equi-key, not just the band filter: bucket width
    // maxDist+1 guarantees a within-band pair is at most one bucket
    // apart, so expanding one side 3× (the rangeJoinByValue rewrite)
    // keeps the pair in exactly one joined bucket. This both splits a
    // hot block's O(block²) pair space by length AND multiplies the
    // shuffle key count past the raw block-key cardinality (25 brands
    // alone cap the join at 25-ish tasks).
    val w = maxDist + 1
    // Degenerate-cell guard (the maxBucket/maxPostings discipline, here
    // for the (block, length-bucket) CELL): the length band only splits
    // a hot block if its lengths actually spread — an adversarial block
    // whose every string shares one length bucket is a single
    // O(cell²)-pair cell no prefilter touches. Rows in cells larger
    // than `maxCell` are excluded from matching on BOTH sides (their
    // comparisons are the quadratic mass AND such mega-cells are
    // boilerplate-catalog noise, not typo families), which bounds any
    // row's comparisons at 3·maxCell and the whole join at
    // O(n·maxCell) — linear in n. Mirror the cap in any oracle
    // (COUNT(*) OVER the same cell key). maxCell <= 0 disables.
    val base = if (maxCell > 0) {
      val keyed = src.withColumn("__lb",
        floor(length(col(textCol)) / w))
      val ok = keyed
        .groupBy(blockCols.map(col) :+ col("__lb"): _*)
        .agg(count(lit(1)).as("__cn"))
        .filter(col("__cn") <= maxCell)
        .drop("__cn")
      keyed.join(ok, blockCols :+ "__lb").drop("__lb")
    } else src
    def side(p: String) = base.select(
      col(keyCol).as(p + "key") +: col(textCol).as(p + "text") +:
        blockCols.map(c => col(c).as(p + c)): _*)
    val a = side("a_")
      .withColumn("a_lb", floor(length(col("a_text")) / w))
    val b = side("b_")
      .withColumn("b_lb0", floor(length(col("b_text")) / w))
      .withColumn("b_lb",
        explode(array(col("b_lb0") - 1, col("b_lb0"), col("b_lb0") + 1)))
      .drop("b_lb0")
    // conjunct ORDER is the hot-loop schedule: the thresholded DP goes
    // LAST in the join condition, behind the free comparisons, so a
    // probe match that fails `a_key < b_key` (half of them) or the
    // length band (the ±1 bucket expansion's casualties) never pays the
    // DP. Writing the distance test as a separate post-join filter
    // instead lets predicate pushdown PREPEND it to the join condition
    // — measured 6.7 s → with the cheap guards first, the DP runs on
    // ~a third of the probe matches. The k-banded thresholded variant
    // runs O(len·k) cells with early exit, returning -1 above k.
    val cond = blockCols.map(c => col("a_" + c) === col("b_" + c))
      .reduce(_ && _) &&
      col("a_lb") === col("b_lb") &&
      col("a_key") < col("b_key") &&
      abs(length(col("a_text")) - length(col("b_text"))) <= maxDist &&
      levenshtein(col("a_text"), col("b_text"), maxDist) >= 0
    a.join(b, cond)
      // survivors are rare (the threshold is the point), so recomputing
      // the distance for THEM in the projection costs noise next to
      // skipping the DP for the rejected majority above
      .withColumn("edit_dist",
        levenshtein(col("a_text"), col("b_text"), maxDist)
          .cast(org.apache.spark.sql.types.LongType))
      .select(col("a_key").as("key_a"), col("b_key").as("key_b"),
        col("edit_dist"))
  }

  /** Snapshot diff — the CDC EXTRACTION side of [[mergeUpsert]]: compare
    * two keyed snapshots of one table and emit what changed, typed
    * `I` (inserted: key only in `newDf`), `U` (updated: key in both,
    * any non-key value differs), `D` (deleted: key only in `oldDf`).
    * Unchanged keys are dropped. This is how a pipeline without a
    * transaction log derives a change feed from day-N vs day-N+1 loads.
    *
    * Same single-shuffle shape as [[mergeUpsert]]: tagged union + one
    * aggregate picking each side's row per key (a sort aggregate: struct
    * buffers are not hash-aggregable) — no join
    * operator, neither snapshot broadcast. Comparison is null-safe struct
    * equality over ALL non-key columns. Keys MUST be unique within
    * each snapshot (snapshot semantics); a duplicate key on either
    * side RAISES `graft.snapshotDiff: duplicate key` at execution
    * (round-13 contract — the pre-r13 form collapsed duplicates
    * silently, which diverged nondeterministically at sf1).
    *
    * Output: key columns + `change_type` + `old`/`new` structs of the
    * full row (null on the absent side) — project scalar fields out for
    * engines whose sinks want flat columns. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
      keys: Seq[String]): DataFrame = {
    require(oldDf.columns.sameElements(newDf.columns),
      "snapshots must share one schema")
    val dataCols = oldDf.columns.toSeq
    def tag(df: DataFrame, side: Int) =
      df.select(struct(dataCols.map(col): _*).as("__row") +:
        lit(side).as("__s") +: keys.map(col): _*)
    tag(oldDf, 0).unionByName(tag(newDf, 1))
      .groupBy(keys.map(col): _*)
      .agg(max(when(col("__s") === 0, col("__row"))).as("old"),
        max(when(col("__s") === 1, col("__row"))).as("new"),
        sum(when(col("__s") === 0, 1L).otherwise(0L)).as("__c0"),
        sum(when(col("__s") === 1, 1L).otherwise(0L)).as("__c1"))
      // a SNAPSHOT has unique keys by definition — a duplicate means
      // the input is not a snapshot, and the struct-max would silently
      // pick one row as "the" value (round 13: the 10x rehearsal
      // manufactured exactly this and the DuckDB oracle's join
      // multiplied instead). Same loud-contract rule as
      // [[mergeUpsert]]; the guard rides the existing aggregate, no
      // extra pass.
      .withColumn("change_type",
        when(col("__c0") > 1L || col("__c1") > 1L,
          expr("raise_error('graft.snapshotDiff: duplicate key within " +
            "one snapshot side - not a snapshot; dedupe upstream')"))
          .when(col("old").isNull, "I")
          .when(col("new").isNull, "D")
          .when(!(col("old") <=> col("new")), "U"))
      .filter(col("change_type").isNotNull)
      .drop("__c0", "__c1")
  }

  /** Apply a typed change feed back onto a snapshot — the closure of
    * [[snapshotDiff]]: `applyChanges(old, snapshotDiff(old, new), keys)`
    * reconstructs `new` exactly (property-tested). `I`/`U` rows upsert
    * via [[mergeUpsert]]'s union+aggregate shape; `D` keys drop via a
    * left-anti join. The change feed is in [[snapshotDiff]]'s output
    * shape (keys + `change_type` + `new` struct). This is the replica
    * CATCH-UP path: ship the (small) diff, not the (huge) snapshot. */
  def applyChanges(oldDf: DataFrame, changes: DataFrame,
      keys: Seq[String]): DataFrame = {
    val dataCols = oldDf.columns.toSeq
    val upserts = changes.filter(col("change_type").isin("I", "U"))
      .select(dataCols.map(c => col(s"new.$c").as(c)): _*)
    val deletes = changes.filter(col("change_type") === "D")
      .select(keys.map(c => col(c).as(s"__d_$c")): _*)
    // <=> not ===: snapshotDiff's groupBy treats NULL as a key value, so
    // a 'D' change with a NULL key must delete the NULL-key old row —
    // null-rejecting equality would silently skip it and break the
    // diff/apply round-trip property
    val kept = oldDf.join(deletes,
      keys.map(c => col(c) <=> col(s"__d_$c")).reduce(_ && _), "left_anti")
    mergeUpsert(kept, upserts.withColumn("__v", lit(1L)), keys, col("__v"))
  }

  /** Incremental aggregate maintenance: merge pre-aggregated partial
    * results (a persisted base aggregate + a fresh delta aggregate, or
    * any number of partition-wise partials) into the aggregate of the
    * union, WITHOUT rescanning the underlying rows — the re-aggregation
    * algebra that lets a 100 TB daily pipeline fold yesterday's rollup
    * with today's partition instead of recomputing from raw data.
    *
    * Works for the decomposable aggregates: counts and sums merge by
    * SUM, minima by MIN, maxima by MAX (a count column is just a sum of
    * counts — pass it in `sumCols`). Averages ship as (sum, count)
    * pairs and divide at the end; non-decomposable aggregates (exact
    * distinct, exact median) fundamentally need the rows and don't
    * belong here.
    *
    * Shape: union of the partials (already tiny — one row per key per
    * partial) + one hash aggregate. The shuffle carries aggregate rows,
    * never raw data; with P partials the cost is O(P·|keys|),
    * independent of corpus size. */
  def mergePartialAggs(parts: Seq[DataFrame], keys: Seq[String],
      sumCols: Seq[String], minCols: Seq[String] = Nil,
      maxCols: Seq[String] = Nil): DataFrame = {
    require(parts.nonEmpty && (sumCols ++ minCols ++ maxCols).nonEmpty)
    val aggs = sumCols.map(c => sum(col(c)).as(c)) ++
      minCols.map(c => min(col(c)).as(c)) ++
      maxCols.map(c => max(col(c)).as(c))
    parts.reduce(_.unionByName(_))
      .groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Per-group bounded top-k — [[topK]]'s grouped sibling, via the same
    * two-phase `top_k_by_score` aggregate the ANN operators use: a
    * k-slot buffer per group per partition map-side, so the shuffle
    * carries ≤ k rows per group per partition and no task ever sorts a
    * whole group (the `row_number().over(partitionBy(...))` funnel this
    * replaces). Output: group columns + (`id`, `score`, `rank`), rank
    * 1-based in (score desc, id asc) order — callers alias. */
  def topKPerGroup(df: DataFrame, grp: Seq[String], score: Column,
      id: Column, k: Int): DataFrame =
    df.groupBy(grp.map(col): _*)
      .agg(graft.functions.Native.topKByScore(
        score.cast(org.apache.spark.sql.types.DoubleType),
        id.cast(org.apache.spark.sql.types.LongType), k).as("__tk"))
      .select(grp.map(col) :+ posexplode(col("__tk")).as(Seq("__p", "__s")): _*)
      .select(grp.map(col) :+ col("__s.id").as("id") :+
        col("__s.score").as("score") :+ (col("__p") + 1).as("rank"): _*)

  /** Per-group quota cap — the web-curation staple ("at most N documents
    * per domain/source"): keep `quota` rows per group, chosen by a
    * DETERMINISTIC hash of the id rather than arrival order, so the
    * survivor set is a function of the data alone — stable across runs,
    * partitionings, engines, and incremental reloads (re-ingesting the
    * same domain keeps the same N).
    *
    * The selection hash is the engine-portable md5-long reduced mod 2⁴⁰
    * — small enough that its negation is EXACT in the double score
    * [[topKPerGroup]] ranks on (a full 56-bit hash would lose low bits
    * past double's 53-bit mantissa and could disagree with an external
    * re-implementation about the cut), uniform enough that the cap is an
    * unbiased sample of the group. Scale shape is [[topKPerGroup]]'s: a
    * quota-slot buffer per group per partition map-side, never a
    * group-wide sort or window. Output: group columns + (`id`,
    * `pick_rank` 1-based in hash order).
    *
    * A NULL id is NEVER picked (its hash — hence its rank — is
    * undefined; the two-phase aggregate skips null scores): a row
    * without an identity can't participate in an identity-hash lottery.
    * Mirror `id IS NOT NULL` in any external re-implementation — a
    * NULLS-LAST ranking would instead admit them when the group has
    * spare quota. */
  def quotaCap(df: DataFrame, grp: Seq[String], id: Column,
      quota: Int): DataFrame = {
    require(quota >= 1)
    val h40 = pmod(graft.functions.Hashing.hexLong(
      id.cast(org.apache.spark.sql.types.StringType)), lit(1099511627776L))
    topKPerGroup(df, grp, -h40, id, quota)
      .select(grp.map(col) :+ col("id") :+
        col("rank").cast(org.apache.spark.sql.types.LongType)
          .as("pick_rank"): _*)
  }

  /** Type-2 slowly-changing-dimension history from an ordered change
    * log: collapse CONSECUTIVE equal attribute observations per key
    * into versioned validity spans — the standard warehouse history
    * build (Kimball SCD type 2) a CDC consumer runs after
    * [[snapshotDiff]]/[[mergeUpsert]].
    *
    * Semantics: per key, observations ordered by (tsCol, idCol); a run
    * starts where the attribute differs from its predecessor under
    * NULL-SAFE comparison (a run of NULLs is ONE span, not one per
    * row; the first observation always opens version 1). Each span
    * reports its attribute, `valid_from` = first observation time,
    * `valid_to` = the NEXT span's valid_from (NULL for the open span —
    * the [start, next-start) convention, so spans tile the timeline
    * with no gaps), and the observation count.
    *
    * Shape: one window pass per key (lag + running sum share the same
    * frame sort), one (key, version) aggregate, then a key-windowed
    * lead over the SPAN table (|spans| ≤ |rows|, usually ≪). All
    * integer/ordering logic — deterministic under the (ts, id) total
    * order; timestamps cross engines as formatted strings downstream. */
  def scd2History(df: DataFrame, keyCol: String, tsCol: String,
      idCol: String, attr: Column): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val w = Window.partitionBy(col("__k")).orderBy(col("__t"), col("__id"))
    val runs = df.select(col(keyCol).as("__k"), col(tsCol).as("__t"),
        col(idCol).as("__id"), attr.as("__a"))
      // the explicit first-row test matters when a key's FIRST attr is
      // NULL: lag-null <=> null is true, and the span would be v0
      .withColumn("__chg",
        when(row_number().over(w) === 1 ||
          !(lag(col("__a"), 1).over(w) <=> col("__a")), 1L)
          .otherwise(0L))
      .withColumn("__ver", sum(col("__chg")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val spans = runs.groupBy(col("__k"), col("__ver"))
      .agg(min(col("__t")).as("valid_from"),
        count(lit(1)).as("n_rows"),
        min(col("__a")).as("__attr")) // constant within a run
    val wv = Window.partitionBy(col("__k")).orderBy(col("__ver"))
    spans.select(col("__k").as(keyCol),
      col("__ver").cast(LongType).as("version"),
      col("__attr").as("attr_value"),
      col("valid_from"),
      lead(col("valid_from"), 1).over(wv).as("valid_to"),
      col("n_rows"))
  }

  /** Token-budget subset selection — "keep the highest-quality docs
    * whose token counts fit a training budget" without EVER globally
    * sorting the corpus (the histogram-selection trick the exact
    * quantiles already use): quality quantizes into `nBuckets` cells,
    * one bucket-level token histogram decides which buckets are taken
    * WHOLE, and only the single BOUNDARY bucket pays a within-bucket
    * running-sum window, ordered by the deterministic md5 hash of the
    * doc id (the quota-cap contract: the partial admit is a stable
    * unbiased sample of the boundary quality cell, identical across
    * runs, partitionings and engines — admission must not depend on a
    * meaningless arrival order).
    *
    * Scale note: the boundary window runs over ONE bucket's rows on
    * one task — size it with `nBuckets` (a finer histogram shrinks the
    * boundary cell). Saturated scores (many docs at exactly 1.0) pool
    * in the top bucket; a corpus whose budget cuts inside that pool
    * pays the window over the whole pool.
    *
    * Output: one row per SELECTED doc (`doc`, `n_toks`, `q_bucket`). */
  def budgetedSelection(df: DataFrame, idCol: String, nToks: Column,
      quality: Column, budgetTokens: Long, nBuckets: Int = 1024): DataFrame = {
    require(budgetTokens > 0L, "budget must be positive")
    require(nBuckets >= 2, "need at least two quality cells")
    // narrow (doc, tokens, bucket) projection, consumed by the
    // histogram and both selection branches
    val base = materialize(df.select(col(idCol).as("doc"),
        nToks.cast(LongType).as("n_toks"),
        least(floor(quality * nBuckets), lit((nBuckets - 1).toDouble))
          .cast(LongType).as("q_bucket")))._1
    val hist = base.groupBy("q_bucket").agg(sum(col("n_toks")).as("__bt"))
    // tokens in strictly HIGHER buckets — a ≤nBuckets-row window
    val above = hist.withColumn("__above",
      coalesce(sum(col("__bt")).over(Window.orderBy(col("q_bucket").desc)
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val dec = broadcast(above.filter(col("__above") < budgetTokens)
      .select(col("q_bucket"),
        (col("__above") + col("__bt") <= budgetTokens).as("__full"),
        (lit(budgetTokens) - col("__above")).as("__rem")))
    val joined = base.join(dec, Seq("q_bucket"))
    val full = joined.filter(col("__full"))
      .select(col("doc"), col("n_toks"), col("q_bucket"))
    val wb = Window.partitionBy(col("q_bucket"))
      .orderBy(graft.functions.Hashing.hexLong(col("doc").cast("string")),
        col("doc"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val boundary = joined.filter(!col("__full"))
      .withColumn("__run", sum(col("n_toks")).over(wb))
      .filter(col("__run") <= col("__rem"))
      .select(col("doc"), col("n_toks"), col("q_bucket"))
    full.unionByName(boundary)
  }

  /** Exact Gini concentration index (Gini 1912, the grouped-data form):
    * per group, how dominated the mass is by few rows — the
    * "is this corpus a handful of giant documents" / "does one
    * customer carry the segment" audit next to q140's Zipf tail fit
    * and q165's datasheet. For a value v with count c whose
    * cumulative predecessor count is k (ascending order), the classic
    * `Σ(2·rank − n − 1)·x` collapses to `Σ v·c·(2k + c − n)` — every
    * term an exact long (terms go negative, the TOTAL is ≥ 0 for
    * non-negative values, so the final division is positive mass) —
    * and `gini_micro = T·1e6 div (n·S)` via the two-division overflow
    * guard. The corpus collapses to the per-group DISTINCT-VALUE table
    * in one hash aggregate (the [[graft.operators.TextAnalysis.aucExact]]
    * shape); the cumulative window runs over value resolution, not
    * rows. NULL and negative values carry no concentration evidence
    * and are excluded; an all-zero group (S = 0) has no defined index
    * and is excluded.
    *
    * Long-bound handling (round 13; the r12 form raised past 9e15 of
    * group mass, which the 10× rehearsal corpus hit): the value unit
    * AUTO-SCALES — `scale_unit` is the smallest power of 10 making
    * `n · Σ(v div scale)·c ≤ 9e15`, chosen by a deterministic
    * double-threshold CASE both engines evaluate identically, and the
    * Gini sums run over `v div scale_unit` (ordering and cumulative
    * counts stay on the UNSCALED values, so resolution below the unit
    * is the only loss). At graded scales scale_unit = 1 and the
    * result is bit-identical to the unscaled form; groups past 9e21
    * of mass (scale 10⁶ insufficient) still raise loudly — pre-scale
    * the input unit there. Bound caveat: the UNSCALED per-group total
    * `Σ v·c` itself must fit int64 (~9.2e18) — a small-n/huge-v group
    * whose raw total exceeds that overflows in the ANSI sum BEFORE the
    * named `graft.giniIndex` raise can fire (still loud, just a bare
    * arithmetic-overflow error). A group whose scaled mass is all
    * zeros reports NULL (no measurable concentration at that unit). */
  def giniIndex(df: DataFrame, grpCol: String, valCol: Column): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val counts = df
      .filter(col(grpCol).isNotNull && valCol.isNotNull && (valCol >= 0L))
      .select(col(grpCol).as("g"), valCol.cast(LongType).as("__v"))
      .groupBy("g", "__v").agg(count(lit(1)).as("__c"))
    val wCum = Window.partitionBy(col("g")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(col("g"))
    counts // distinct-value-sized windows
      .withColumn("__k", coalesce(sum(col("__c")).over(wCum), lit(0L)))
      .withColumn("__n", sum(col("__c")).over(wAll))
      // the scale decision needs (n, total) BEFORE the Gini sum, and
      // both are already window products here — the mass test runs in
      // doubles (exact-long inputs, one IEEE multiply: identical
      // verdicts in every engine) so the test itself cannot overflow
      .withColumn("__tot", sum(expr("__v * __c")).over(wAll))
      .withColumn("__s", expr(
        "CASE WHEN cast(__n AS double) * cast(__tot AS double) <= 9e15 THEN 1L " +
          "WHEN cast(__n AS double) * cast(__tot AS double) <= 9e16 THEN 10L " +
          "WHEN cast(__n AS double) * cast(__tot AS double) <= 9e17 THEN 100L " +
          "WHEN cast(__n AS double) * cast(__tot AS double) <= 9e18 THEN 1000L " +
          "WHEN cast(__n AS double) * cast(__tot AS double) <= 9e19 THEN 10000L " +
          "WHEN cast(__n AS double) * cast(__tot AS double) <= 9e20 THEN 100000L " +
          "WHEN cast(__n AS double) * cast(__tot AS double) <= 9e21 THEN 1000000L " +
          "ELSE raise_error('graft.giniIndex: group mass n*total exceeds " +
          "9e21 — pre-scale the value unit (see scaladoc)') END"))
      .groupBy(col("g"), col("__n").as("n_rows"), col("__tot").as("total"),
        col("__s").as("scale_unit"))
      .agg(sum(expr("(__v div __s) * __c * (2 * __k + __c - __n)")).as("__t"),
        sum(expr("(__v div __s) * __c")).as("__ts"))
      .filter(col("total") > 0L)
      // T·1e6 div D in two ×1000 stages (exact identity); by the scale
      // choice D = n·Σ(v div s)·c ≤ 9e15, so T·1000 ≤ 9e18 < 2^63
      .select(col("g"), col("n_rows"), col("total"), col("scale_unit"),
        when(col("__ts") === 0L, lit(null).cast(LongType))
          .otherwise(expr("((__t * 1000 div (n_rows * __ts)) * 1000) " +
            "+ ((__t * 1000 % (n_rows * __ts)) * 1000) " +
            "div (n_rows * __ts)")).as("gini_micro"))
  }

  /** Poisson bootstrap confidence interval (Chamandy et al. 2012 — the
    * ONE-PASS bootstrap that scales: classical resampling needs the
    * whole dataset per replicate; here every row draws an independent
    * Poisson(1) weight per replicate from a hash, so all `nReps`
    * replicates stream through one aggregation — the uncertainty
    * quantifier the sampling tier (q40/q82/q90) feeds). Weights come
    * from the md5 hash's low 20 bits against the Poisson(1) inverse
    * CDF with JVM-computed INJECTED thresholds ([[poissonThresholds]];
    * no cross-engine exp), capped at 6 (P ≈ 6e-5 truncated — part of
    * the operator's definition, mirrored).
    *
    * Exactness: replicate means in micro units via the two-division
    * identity `S·1e6 div W = (S div W)·1e6 + (S mod W)·1e6 div W`
    * (all positive; dodges the S·1e6 overflow a 100 TB sum would
    * hit), and the CI bounds are INDEX-SELECTED order statistics of
    * the replicate means (`rank_lo = max(1, ceil(α·B))`,
    * `rank_hi = B+1−rank_lo`) — no interpolation, no doubles anywhere.
    *
    * Shape: corpus → replicate explode (×nReps, the scale knob) → one
    * (group, replicate) partial-aggregated shuffle → groups×B-sized
    * everything after (means collect to ONE row per group). */
  def poissonBootstrapCI(df: DataFrame, grpCol: String, keyCol: Column,
      valCol: Column, nReps: Int = 64,
      alphaMicro: Long = 25000L): DataFrame = {
    require(nReps >= 4 && alphaMicro >= 1 && alphaMicro < 500000L,
      "degenerate bootstrap params")
    import org.apache.spark.sql.types.LongType
    val ts = poissonThresholds
    val rankLo = math.max(1L, (alphaMicro * nReps + 999999L) / 1000000L)
    val rankHi = nReps + 1L - rankLo
    def meanMicro(s: String, w: String) =
      expr(s"($s div $w) * 1000000 + ($s % $w) * 1000000 div $w")
    // the replicate explode multiplies a small scan ×nReps with an md5
    // per row — heavy narrow compute that a single-row-group parquet
    // file would otherwise pin to ONE task (StageAudit caught exactly
    // that); the null filters sit BELOW the widening exchange
    val reps = Parallelism.ensure(df
        .filter(col(grpCol).isNotNull && keyCol.isNotNull &&
          valCol.isNotNull)
        .select(col(grpCol).as("g"), keyCol.cast(LongType).as("__k"),
          valCol.cast(LongType).as("__v")))
      .withColumn("__b", explode(expr(s"sequence(0, ${nReps - 1})")))
      .withColumn("__u",
        graft.functions.Hashing.hexLong(
          concat(lit("boot:"), col("__b").cast("string"), lit(":"),
            col("__k").cast("string"))) % 1048576L)
      .withColumn("__w",
        when(col("__u") < ts(0), 0L).when(col("__u") < ts(1), 1L)
          .when(col("__u") < ts(2), 2L).when(col("__u") < ts(3), 3L)
          .when(col("__u") < ts(4), 4L).when(col("__u") < ts(5), 5L)
          .otherwise(6L))
      .groupBy(col("g"), col("__b"))
      .agg(sum(col("__w") * col("__v")).as("__s"),
        sum(col("__w")).as("__n"))
      .filter(col("__n") > 0L) // an all-zero-weight replicate has no mean
      .withColumn("__m", meanMicro("__s", "__n"))
    val base = df
      .filter(col(grpCol).isNotNull && keyCol.isNotNull && valCol.isNotNull)
      .select(col(grpCol).as("g"), valCol.cast(LongType).as("__v"))
      .groupBy("g").agg(sum(col("__v")).as("__s"),
        count(lit(1)).as("n_rows"))
      .withColumn("mean_micro", meanMicro("__s", "n_rows"))
      .select(col("g"), col("n_rows"), col("mean_micro"))
    reps.groupBy("g")
      .agg(count(lit(1)).as("n_replicates"),
        sort_array(collect_list(col("__m"))).as("__ms"))
      .select(col("g"), col("n_replicates"),
        element_at(col("__ms"),
          least(lit(rankLo), col("n_replicates")).cast("int")).as("ci_lo_micro"),
        element_at(col("__ms"),
          least(lit(rankHi), col("n_replicates")).cast("int")).as("ci_hi_micro"))
      .join(base, Seq("g"))
      .select(col("g"), col("n_rows"), col("mean_micro"),
        col("n_replicates"), col("ci_lo_micro"), col("ci_hi_micro"))
  }

  /** Poisson(1) inverse-CDF thresholds on the hash's 2^20 grid,
    * JVM-computed and injected into both plans:
    * `floor(P(X ≤ k)·2^20)` for k = 0..5. */
  def poissonThresholds: Seq[Long] = {
    val pow = 1048576.0
    var cdf = 0.0; var fact = 1.0
    (0 to 5).map { k =>
      if (k > 0) fact *= k
      cdf += math.exp(-1.0) / fact
      math.floor(cdf * pow).toLong
    }
  }

  /** Benford first-digit audit (Newcomb 1881 / Benford 1938; Nigrini's
    * forensic-accounting screen — the data-quality tier's
    * fabricated-or-truncated-numbers detector next to q83's rule
    * expectations): per group, the observed first-significant-digit
    * distribution against Benford's `log10(1+1/d)`, with the exact
    * per-digit deviation and the group's χ² statistic.
    *
    * Exactness: digit masses are exact micro ratios (`c·1e6 div n`,
    * positive); the Benford expectations are JVM-computed micro
    * literals injected into BOTH plans ([[benfordMicros]] — no
    * cross-engine log10); the one double — χ² = Σ (c−n·e/1e6)²/(n·e/1e6)
    * — folds in ascending-digit order inside a row and crosses engines
    * under round(…,6) (the PSI/PMI contract). Digits are densified to
    * all of 1..9 so an absent digit contributes its full χ² mass.
    * Non-positive and NULL values carry no first digit and are
    * excluded. One (group, digit) count shuffle; everything after is
    * groups×9-sized. */
  /** Priority sampling (Duffield–Lund–Thorup 2007 "Priority sampling
    * for estimation of arbitrary subset sums", public): a
    * deterministic weight-sensitive sample of exactly k rows that
    * doubles as an UNBIASED ESTIMATOR — each sampled row carries the
    * Horvitz–Thompson adjusted weight ŵ = max(w, τ), τ = the (k+1)-th
    * largest priority, and for ANY subset A,
    * Σ_{sampled ∩ A} ŵ is an unbiased estimate of Σ_A w with
    * near-optimal variance (DLT prove no k−1-row scheme beats it).
    * This is what q90's A-ES race lacks: A-ES draws a fair sample, but
    * only priority sampling's τ-adjusted weights let downstream answer
    * subset-SUM queries from the sample alone — the sample you ship
    * when the 100 TB corpus stays behind.
    *
    * Derandomized like every sampler here: u = (md5 mod 2²⁰ + 1)/2²⁰
    * is an exact dyadic rational in (0, 1], and the priority
    * w/u = w·2²⁰ div (h+1) stays an EXACT long (integer truncation is
    * a valid priority family and crosses engines bit-for-bit — no
    * doubles anywhere; w ≤ 2^43 overflows nothing). Plan shape: one
    * narrow projection + TakeOrdered(k+1) by (priority DESC, key) —
    * per-partition top-k then one merge, never a global sort — then a
    * window over the (k+1)-row result only. Rows with NULL keys or
    * non-positive/NULL weights carry no mass and are excluded; when
    * the population has ≤ k rows the whole population returns with
    * τ = 0 and ŵ = w exactly. */
  def prioritySample(df: DataFrame, keyCol: Column, weight: Column,
      k: Int): DataFrame = {
    require(k >= 1)
    val m = 1048576L // 2^20
    import org.apache.spark.sql.types.{LongType, StringType}
    val base = df
      .filter(keyCol.isNotNull && weight.isNotNull && (weight > 0L))
      .select(keyCol.cast(LongType).as("key"),
        weight.cast(LongType).as("w"))
      // enforce the documented w <= 2^43 exact-long contract: a larger
      // weight would overflow w·2^20 and silently corrupt pri/tau —
      // fail loudly instead of sampling from garbage priorities
      .withColumn("w", when(col("w") <= (1L << 43), col("w"))
        .otherwise(raise_error(concat(
          lit("prioritySample: weight exceeds 2^43 (overflows the "),
          lit("exact-long priority): "), col("w").cast(StringType)))))
      .withColumn("__hu",
        pmod(graft.functions.Hashing.hexLong(
          concat(lit("ps:"), col("key").cast(StringType))), lit(m)) + 1L)
      .withColumn("pri", expr(s"(w * $m) div __hu"))
    val top = base.orderBy(col("pri").desc, col("key").asc).limit(k + 1)
    // the window runs over k+1 rows, never the corpus
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("pri").desc, col("key").asc)
    val ranked = top.withColumn("__rn", row_number().over(w))
    val tau = ranked.agg(coalesce(
      max(when(col("__rn") === k + 1, col("pri"))), lit(0L)).as("__tau"))
    ranked.filter(col("__rn") <= k)
      .crossJoin(broadcast(tau))
      .select(col("key"), col("w"), col("pri"),
        greatest(col("w"), col("__tau")).as("w_hat"),
        col("__rn").cast(LongType).as("rank"))
  }

  /** k-anonymity / l-diversity audit (Sweeney 2002 "k-anonymity: a
    * model for protecting privacy"; Machanavajjhala et al. 2007
    * "l-diversity" — both public): the privacy risk report a
    * training-data pipeline ships NEXT TO its PII redaction (q59
    * removes direct identifiers; this audits the QUASI-identifiers
    * redaction can't remove — the (zip, age, segment)-style
    * combinations that re-identify by linkage). Groups rows into
    * equivalence classes over the quasi-identifier columns and reports
    * every class with fewer than `k` rows (re-identification risk: the
    * class pins an individual) or fewer than `l` distinct sensitive
    * values (attribute disclosure: membership alone reveals the
    * sensitive attribute), with both flags so one class can violate
    * either or both.
    *
    * Scale shape: ONE hash aggregate — the corpus collapses to the
    * equivalence-class table and the filter runs there; no windows, no
    * joins. NULL quasi values form their own class (a NULL zip is
    * still a linkable signature, not an exemption); NULL sensitive
    * values carry no diversity evidence (count-distinct ignores them,
    * so an all-NULL-sensitive class reports l_violation). */
  def kAnonymityAudit(df: DataFrame, quasi: Seq[String],
      sensitive: Column, k: Long, l: Long): DataFrame = {
    require(quasi.nonEmpty && k >= 1 && l >= 1,
      "need quasi-identifier columns and k, l >= 1")
    df.groupBy(quasi.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(sensitive).as("n_sensitive"))
      .filter(col("n_rows") < k || col("n_sensitive") < l)
      .select(quasi.map(col) ++ Seq(col("n_rows"), col("n_sensitive"),
        when(col("n_rows") < k, lit(1L)).otherwise(lit(0L))
          .as("k_violation"),
        when(col("n_sensitive") < l, lit(1L)).otherwise(lit(0L))
          .as("l_violation")): _*)
  }

  def benfordAudit(df: DataFrame, grpCol: String, valCol: Column): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val counts = df
      .filter(col(grpCol).isNotNull && valCol.isNotNull && (valCol > 0L))
      .select(col(grpCol).as("g"),
        substring(valCol.cast(LongType).cast("string"), 1, 1)
          .cast(LongType).as("digit"))
      .groupBy("g", "digit").agg(count(lit(1)).as("__c"))
    val eArr = benfordMicros
    val dense = counts.groupBy("g")
      .agg(sum(col("__c")).as("n"),
        sort_array(collect_list(struct(col("digit"), col("__c")))).as("__sp"))
      .withColumn("__digits", expr(
        "transform(sequence(1, 9), d -> struct(CAST(d AS BIGINT) AS digit, " +
          "coalesce(element_at(map_from_entries(__sp), CAST(d AS BIGINT)), 0L) AS c))"))
      .withColumn("__e", typedLit(eArr))
      .withColumn("chi2", round(aggregate(col("__digits"), lit(0.0),
        (acc, x) => {
          val exp = col("n").cast("double") *
            element_at(col("__e"), x.getField("digit").cast("int"))
              .cast("double") / lit(1e6)
          acc + (x.getField("c").cast("double") - exp) *
            (x.getField("c").cast("double") - exp) / exp
        }), 6))
    dense.select(col("g"), col("n"), col("chi2"), col("__e"),
        explode(col("__digits")).as("d"))
      .select(col("g"), col("d.digit").as("digit"), col("d.c").as("n_obs"),
        col("n"),
        expr("d.c * 1000000 div n").as("p_micro"),
        element_at(col("__e"), col("d.digit").cast("int")).as("e_micro"),
        abs(expr("d.c * 1000000 div n") -
          element_at(col("__e"), col("d.digit").cast("int")))
          .as("dev_micro"),
        col("chi2"))
  }

  /** Benford's law first-digit masses as micro longs, computed once on
    * the JVM and injected as literals into both the Spark plan and the
    * oracle SQL — `floor(log10(1+1/d)·1e6 + 0.5)` for d = 1..9. */
  def benfordMicros: Seq[Long] =
    (1 to 9).map(d => math.floor(math.log10(1.0 + 1.0 / d) * 1e6 + 0.5).toLong)

  /** 2-D Pareto frontier (skyline, Börzsönyi et al. 2001): the rows no
    * other row dominates — `x' ≥ x ∧ y' ≥ y`, strict in at least one —
    * the curation shape behind "longest AND most-diverse" tradeoff
    * audits (every frontier point is an optimal operating point; ties
    * on BOTH axes are mutually non-dominating and all kept).
    *
    * Scale path: the corpus never meets a global window. Pass 1 buckets
    * x (`x div bucketWidth`) and keeps per-bucket max-y — a
    * statistics-sized table whose strictly-descending SUFFIX max (any
    * higher bucket implies strictly larger x) broadcast-prunes every
    * row provably dominated from a higher bucket; domination chains
    * always terminate at a surviving point (x strictly grows along a
    * chain), so the prune never removes a frontier member and never
    * orphans a dominator. Pass 2 resolves exactly among the SURVIVORS
    * (per-x max for the equal-x strict-y rule, a strict-larger-x
    * running max via a range frame) — survivor cardinality is the
    * frontier plus per-bucket near-frontier residue: bucket-local, not
    * corpus-sized, provided bucketWidth actually splits the x range
    * (an all-one-bucket width degrades to the exact pass alone). */
  def paretoFrontier(df: DataFrame, idCol: String, xCol: Column,
      yCol: Column, bucketWidth: Long): DataFrame = {
    require(bucketWidth >= 1, "bucketWidth must be >= 1")
    import org.apache.spark.sql.types.LongType
    val pts = df
      .filter(xCol.isNotNull && yCol.isNotNull)
      .select(col(idCol), xCol.cast(LongType).as("x"),
        yCol.cast(LongType).as("y"))
      .withColumn("__b", expr(s"x div $bucketWidth"))
    val wSuffix = Window.orderBy(col("__b").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val bstats = pts.groupBy("__b").agg(max(col("y")).as("__by"))
      .withColumn("__sufmax", max(col("__by")).over(wSuffix)) // tiny
      .select(col("__b"), col("__sufmax"))
    // both exact windows read it
    val survivors = materialize(pts.join(broadcast(bstats), Seq("__b"))
      .filter(col("__sufmax").isNull || col("y") > col("__sufmax")))._1
    val wLargerX = Window.orderBy(col("x").desc)
      .rangeBetween(Window.unboundedPreceding, -1)
    val wSameX = Window.partitionBy(col("x"))
    survivors
      .withColumn("__maxLarger", max(col("y")).over(wLargerX))
      .withColumn("__maxSame", max(col("y")).over(wSameX))
      .filter((col("__maxLarger").isNull ||
          col("y") > col("__maxLarger")) &&
        !(col("__maxSame") > col("y")))
      .select(col(idCol), col("x"), col("y"))
  }
}
