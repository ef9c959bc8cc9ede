package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operators Spark's built-in surface lacks: the as-of join
  * and the interval (range) join. Both are expressed as compositions of
  * built-in operators that Catalyst can optimize — no custom physical
  * nodes — chosen so the plan that comes out is the one a hand-written
  * physical operator would produce anyway:
  *
  *   - as-of join: ONE shuffle on the key and ZERO join operators (the
  *     union + ordered-window formulation), instead of the naive
  *     equi-join + per-left-row max subquery, which shuffles twice and
  *     materializes every (left, right-candidate) pair;
  *   - interval join: a bucketized equi-join, instead of the
  *     range-predicate theta join Spark would otherwise plan as
  *     BroadcastNestedLoopJoin (or worse, CartesianProduct) — per-pair
  *     work drops from |points|·|intervals| to the true overlap count
  *     plus one bucket row per (interval, covered bucket).
  *
  * Scale notes (100 TB): both shapes shuffle each input exactly once on
  * a short key (the join/partition key or the time bucket), both are
  * AQE-splittable on skew, and neither ever materializes a cross
  * product. The as-of window is partitioned per key — no global sort.
  */
object RelationalOps {

  /** As-of join: for each `left` row, attach the payload of the LATEST
    * `right` row with the same key and `rightTime <= leftTime` (nulls if
    * none). The classic shapes: trade→last-quote, purchase→last-click
    * attribution, probe→last-config-snapshot.
    *
    * Semantics pinned for determinism:
    *   - inclusive: a right row AT the left row's timestamp is visible
    *     (right rows sort before left rows at equal time);
    *   - among right rows tied on (key, time), the one with the GREATEST
    *     `rightTieBreak` wins — the caller names a unique column (an id)
    *     so the result is a pure function of the data, not of partition
    *     physical order;
    *   - left rows are returned exactly once each, unchanged, with the
    *     right payload columns appended as `prefix + name`.
    *
    * Plan shape: tag-union the two inputs, ONE hash-partition shuffle on
    * the key, per-key sort by (time, side, tiebreak), and a running
    * `last(payload, ignoreNulls)` window. No Join operator exists in the
    * plan at all — there is nothing to broadcast, nothing to skew beyond
    * the key distribution itself, and the right side is never
    * re-scanned per left row. Ties among LEFT rows (same key+time) are
    * harmless: left rows carry a null payload, so the ignore-nulls
    * running last is identical whichever physical order they land in.
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      leftTime: String,
      rightKey: String,
      rightTime: String,
      payload: Seq[String],
      rightTieBreak: String,
      prefix: String = "asof_"): DataFrame = {
    require(payload.nonEmpty, "asofJoin: payload columns required")
    require(left.schema(leftKey).dataType == right.schema(rightKey).dataType,
      s"asofJoin: key types must match ($leftKey vs $rightKey)")
    require(left.schema(leftTime).dataType == right.schema(rightTime).dataType,
      s"asofJoin: time types must match ($leftTime vs $rightTime)")

    // Rows ride whole, as one struct per side, so the caller's schema is
    // reproduced exactly on the way out; the other side carries a typed
    // null of the same struct so the union lines up.
    val rStructT = right.select(
      struct((payload :+ rightTieBreak).distinct.map(right(_)): _*)
        .as("__r")).schema("__r").dataType
    val lStructT = left.select(
      struct(left.columns.map(left(_)): _*).as("__l"))
      .schema("__l").dataType
    val tbT = right.schema(rightTieBreak).dataType

    val r = right.select(
      col(rightKey).as("__k"),
      col(rightTime).as("__t"),
      lit(0).as("__side"),
      col(rightTieBreak).as("__tb"),
      struct((payload :+ rightTieBreak).distinct.map(right(_)): _*)
        .as("__r"),
      lit(null).cast(lStructT).as("__l"))
    val l = left.select(
      col(leftKey).as("__k"),
      col(leftTime).as("__t"),
      lit(1).as("__side"),
      lit(null).cast(tbT).as("__tb"),
      lit(null).cast(rStructT).as("__r"),
      struct(left.columns.map(left(_)): _*).as("__l"))

    val unioned = r.unionByName(l, allowMissingColumns = false)

    val w = Window
      .partitionBy("__k")
      .orderBy(col("__t").asc, col("__side").asc, col("__tb").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val matched = unioned
      .withColumn("__match", last(col("__r"), ignoreNulls = true).over(w))
      .where(col("__side") === 1)

    val outLeft = left.columns.map(c => col("__l").getField(c).as(c))
    val outRight =
      payload.map(c => col("__match").getField(c).as(prefix + c))
    matched.select(outLeft ++ outRight: _*)
  }

  /** Interval (range) join: pair every `points` row with every
    * `intervals` row whose `[lo, hi)` window contains the point's time
    * (lo inclusive, hi exclusive). Returns the matched pairs — interval
    * columns first, point columns appended as `prefix + name` — each
    * pair EXACTLY ONCE (no post-dedup needed: a point lives in exactly
    * one bucket, and an interval lists each covered bucket once).
    *
    * `bucketMillis` is the equi-join granularity: intervals explode to
    * one row per covered bucket (`sequence(floor(lo/w), floor((hi-1)/w))`),
    * points map to their single bucket, and the range predicate is
    * re-checked after the bucket equi-join. Pick it near the typical
    * interval length: too small and intervals explode to many rows, too
    * large and the post-filter discards most bucket matches. Either way
    * the join itself is a plain hash equi-join on a LONG — shuffled or
    * broadcast by Catalyst/AQE like any other, never a nested loop.
    *
    * Degenerate/hostile inputs: an empty interval (`hi <= lo`) covers
    * nothing and is dropped before the explode; an interval vastly
    * longer than `bucketMillis` is the caller's explosion to own —
    * `require` guards a zero/negative width.
    */
  def intervalJoin(
      points: DataFrame,
      pointTime: String,
      intervals: DataFrame,
      loCol: String,
      hiCol: String,
      bucketMillis: Long,
      prefix: String = "pt_"): DataFrame = {
    require(bucketMillis > 0, "intervalJoin: bucketMillis must be > 0")

    // cast: parquet timestamps arrive as TIMESTAMP_NTZ; the session tz is
    // UTC library-wide, so NTZ→LTZ is the identity and unix_millis is the
    // naive epoch both engines agree on.
    def bucketOf(t: Column): Column =
      floor(unix_millis(t.cast("timestamp")) / lit(bucketMillis))
        .cast("long")

    val ivals = intervals
      .where(col(hiCol) > col(loCol))
      .withColumn("__b",
        explode(sequence(bucketOf(col(loCol)),
          // hi is exclusive: the last covered bucket is the one holding
          // hi - 1ms, so a [10:00, 10:10) window at 10-min buckets lists
          // one bucket, not two.
          floor((unix_millis(col(hiCol).cast("timestamp")) - 1) /
            lit(bucketMillis)).cast("long"))))

    val pts = points
      .withColumn("__b", bucketOf(col(pointTime)))
      .select(col("__b") +: points.columns.map(c =>
        col(c).as(prefix + c)): _*)

    val pTime = col(prefix + pointTime)
    ivals
      .join(pts, "__b")
      .where(pTime >= col(loCol) && pTime < col(hiCol))
      .drop("__b")
  }

  // ------------------------------------------------------- snapshot diff

  /** Snapshot diff — the crawl-to-crawl delta: given two keyed snapshots
    * (two crawl passes, two zone dumps, two curated-corpus versions),
    * emit one row per key that was `added`, `removed`, or `changed`, with
    * the exact set of columns whose value differs (`changed_cols`, in
    * column-name order). The reference's weekly .cz scans answer "what
    * changed since last run" exactly this way; for a training corpus it
    * is the ingest-delta audit between refresh runs.
    *
    * Semantics pinned:
    *   - presence is tracked by side markers, so a key whose compare
    *     columns are ALL null still diffs correctly (null payload is a
    *     value, not absence);
    *   - change detection is null-safe per column (`<=>` negated — a
    *     null→value transition IS a change);
    *   - `changed_cols` is empty (not null) for added/removed rows, and
    *     lists differing columns sorted by name, so output is a pure
    *     function of the data;
    *   - `includeUnchanged = true` keeps `unchanged` rows (for full-join
    *     audits); the default drops them — at 100 TB the delta is the
    *     small output, the unchanged mass is not materialized.
    *
    * Plan shape: ONE full-outer hash join shuffling each snapshot once on
    * the key; the status/changed-cols computation is a scan-local codegen
    * projection on the joined row. AQE-splittable on key skew; nothing
    * broadcasts (both sides are corpus-sized) and nothing is collected.
    */
  def snapshotDiff(
      oldSnap: DataFrame,
      newSnap: DataFrame,
      keyCols: Seq[String],
      compareCols: Seq[String],
      includeUnchanged: Boolean = false): DataFrame = {
    require(keyCols.nonEmpty, "snapshotDiff: key columns required")
    require(compareCols.nonEmpty, "snapshotDiff: compare columns required")
    val cmp = compareCols.sorted
    val o = oldSnap.select(
      keyCols.map(col) ++ cmp.map(c => col(c).as(s"__o_$c")) :+
        lit(true).as("__o_present"): _*)
    val n = newSnap.select(
      keyCols.map(col) ++ cmp.map(c => col(c).as(s"__n_$c")) :+
        lit(true).as("__n_present"): _*)
    val joined = o.join(n, keyCols, "full_outer")
    val differs = cmp.map(c => !(col(s"__o_$c") <=> col(s"__n_$c")))
    val status = when(col("__o_present").isNull, lit("added"))
      .when(col("__n_present").isNull, lit("removed"))
      .when(differs.reduce(_ || _), lit("changed"))
      .otherwise(lit("unchanged"))
    val changedCols = when(
      col("__o_present").isNotNull && col("__n_present").isNotNull,
      filter(array(cmp.map(c =>
          when(!(col(s"__o_$c") <=> col(s"__n_$c")), lit(c))): _*),
        x => x.isNotNull))
      .otherwise(array().cast("array<string>"))
    val out = joined.select(
      keyCols.map(col) :+ status.as("status") :+
        changedCols.as("changed_cols"): _*)
    if (includeUnchanged) out else out.where(col("status") =!= "unchanged")
  }

  // ------------------------------------------------------- SCD2 history

  /** Slowly-changing-dimension (type 2) history build — [[snapshotDiff]]'s
    * N-version generalization: given rows observed at multiple snapshot
    * versions `(version, key, payload)`, collapse consecutive identical
    * observations into validity intervals `[valid_from, valid_to)` — the
    * domain-record history table a crawl archive serves ("what did this
    * domain's records look like at version V?").
    *
    * Semantics pinned:
    *   - an interval breaks on payload CHANGE (null-safe per column) or on
    *     an ABSENCE GAP — a key missing from a version closes its interval
    *     at that version and a later reappearance opens a new one;
    *   - `valid_to` is EXCLUSIVE: the global version that follows the
    *     interval's last observation (absence or change both close there);
    *     null = still open, which is also `is_current` — true iff the key
    *     was observed, unchanged, in the latest version;
    *   - versions are indexed by their position in the GLOBAL distinct
    *     version list (values need not be dense — dates, build numbers).
    *
    * Plan shape: the version dimension (distinct versions — tiny by
    * definition: a snapshot cadence, not data) computes once and
    * BROADCASTS twice (index + next-version lookups); the data path is
    * ONE shuffle on the key feeding a per-key ordered window (break
    * flags + running group id), and the interval agg groups on
    * (key, group) — a superset of the window's partitioning, so no
    * second exchange. Never a global sort on data.
    */
  def buildHistory(
      rows: DataFrame,
      keyCols: Seq[String],
      versionCol: String,
      compareCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "buildHistory: key columns required")
    require(compareCols.nonEmpty, "buildHistory: compare columns required")
    val cmp = compareCols.sorted
    val vw = Window.orderBy(col(versionCol))
    val vdim = rows.select(col(versionCol)).distinct()
      .select(col(versionCol),
        dense_rank().over(vw).cast("long").as("_vidx"),
        lead(col(versionCol), 1).over(vw).as("_next_ver"))
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col("_vidx"))
    val run = Window.partitionBy(keyCols.map(col): _*).orderBy(col("_vidx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val changed = cmp.map(c => !(col(c) <=> lag(col(c), 1).over(w)))
      .reduce(_ || _)
    val grouped = rows
      .join(broadcast(vdim.select(col(versionCol), col("_vidx"))), versionCol)
      .withColumn("_brk",
        when(lag(col("_vidx"), 1).over(w).isNull, 1L)
          .when(col("_vidx") - lag(col("_vidx"), 1).over(w) > 1, 1L)
          .when(changed, 1L).otherwise(0L))
      .withColumn("_grp", sum(col("_brk")).over(run))
      .groupBy((keyCols :+ "_grp").map(col): _*)
      .agg(min(col(versionCol)).as("valid_from"),
        (max(col("_vidx")).as("_last_vidx") +:
          // compare cols are constant within a group by construction;
          // min() is a deterministic pick that preserves an all-null value
          cmp.map(c => min(col(c)).as(c))): _*)
    grouped
      .join(broadcast(vdim.select(col("_vidx").as("_last_vidx"),
        col("_next_ver"))), Seq("_last_vidx"), "left_outer")
      .select(keyCols.map(col) ++ cmp.map(col) ++ Seq(
        col("valid_from"), col("_next_ver").as("valid_to"),
        col("_next_ver").isNull.as("is_current")): _*)
  }

  // ------------------------------------------------------------- funnel

  /** Ordered-step funnel — the event-sequence analytic ("viewed, then
    * clicked, then purchased"): per entity, the earliest timestamp of
    * step 1, then the earliest step-2 event STRICTLY AFTER it, and so on
    * — the standard greedy chaining, which provably finds a full chain
    * whenever one exists (taking the earliest feasible event at each
    * step never forecloses a later step). Equal timestamps do NOT chain
    * (strict `>` — two events at the same instant have no order;
    * documented). Output per entity: one epoch-millis column per step
    * (`t1_ms … tk_ms`, null from the first unreached step onward — a
    * null t_{i−1} can never chain, so nulls are prefix-closed by
    * construction) and `reached`, the number of completed steps.
    *
    * 100 TB shape: step i is one equi-join on the entity key between the
    * running funnel frame and the step-i event slice (filter pushed to
    * the scan), followed by a map-side-combinable min-agg — k−1
    * key-partitioned join+agg rounds for a k-step funnel, no windows, no
    * cross products; every round's right side shrinks to one step's
    * events. Timestamps extract through `cast(ts as timestamp)` (the
    * library's NTZ→UTC identity).
    */
  def funnel(events: DataFrame, entityCol: String, typeCol: String,
      tsCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel: steps required")
    val ms = expr(s"unix_millis(cast($tsCol as timestamp))")
    val first = events.where(col(typeCol) === steps.head)
      .groupBy(col(entityCol))
      .agg(min(ms).as("t1_ms"))
    val chained = steps.zipWithIndex.drop(1).foldLeft(first) {
      case (acc, (step, i)) =>
        val prev = s"t${i}_ms"
        val cur = s"t${i + 1}_ms"
        val slice = events.where(col(typeCol) === step)
          .select(col(entityCol), ms.as("__ms"))
        acc.join(slice, Seq(entityCol), "left_outer")
          .withColumn("__ok",
            when(col("__ms") > col(prev), col("__ms")))
          .groupBy((Seq(entityCol) ++ (1 to i).map(j => s"t${j}_ms"))
            .map(col): _*)
          .agg(min(col("__ok")).as(cur))
    }
    chained.withColumn("reached",
      steps.indices.map(i =>
        when(col(s"t${i + 1}_ms").isNotNull, 1L).otherwise(0L))
        .reduce(_ + _))
  }

  // ---------------------------------------------------- CIDR (LPM) join

  /** Longest-prefix-match CIDR join — the relational bulk path of GeoIP/
    * ASN annotation (the reference annotates per-lookup through an mmdb
    * reader; joining 10^11 crawl IPs against a BGP/GeoIP table needs a
    * JOIN, not a per-row tree walk): each IP row gets the MOST SPECIFIC
    * covering block from `cidrs` `(netCol: long IPv4-as-uint32,
    * prefixCol: int 0..32, payload...)`, or no row if uncovered (inner
    * semantics; left-annotate by re-joining output to the IP table).
    *
    * Mechanics — the [[intervalJoin]] bucketization specialized to
    * power-of-two widths: blocks with prefix ≥ 16 live in EXACTLY one
    * /16 bucket (`net >> 16`); coarser blocks explode to their
    * 2^(16−p) covered buckets (≤ 65536 rows for a /0 — bounded by the
    * bucket space, not the data); IPs map to their single bucket. After
    * the bucket equi-join, the exact range check, then LPM = keep the
    * max prefix per IP row (ties impossible: two distinct same-length
    * blocks cannot both cover one IP), tie-broken deterministically by
    * net for safety.
    *
    * `idCol` names a UNIQUE row id on the IP side — the LPM reduction
    * keys on it (a generated id would be partitioning-dependent and
    * neither deterministic nor oracle-replayable).
    *
    * 100 TB shape: the CIDR side is a dimension (a full BGP table is
    * ~10^6 routes) — after the bucket explode it BROADCASTS, so the IP
    * side's bucket derivation is scan-local and the join adds no IP-side
    * shuffle; the only shuffle is the LPM rank window on the near-unique
    * id key, and only rows inside ≥2 nested blocks occupy a window of
    * size > 1. AQE handles the residual hot-bucket skew a popular /8
    * would cause on a non-broadcast fallback.
    */
  def cidrJoin(
      ips: DataFrame,
      ipCol: String,
      idCol: String,
      cidrs: DataFrame,
      netCol: String,
      prefixCol: String,
      payload: Seq[String]): DataFrame = {
    require(payload.nonEmpty, "cidrJoin: payload columns required")
    val blocks = cidrs
      .where(col(prefixCol).between(0, 32))
      .withColumn("__width", expr(s"shiftleft(1L, 32 - $prefixCol)"))
      .withColumn("__b",
        explode(sequence(expr(s"$netCol div 65536"),
          expr(s"($netCol + __width - 1) div 65536"))))
      .select(Seq(col("__b"), col(netCol).as("__net"),
        col(prefixCol).cast("long").as("__plen"), col("__width")) ++
        payload.map(col): _*)
    val probed = ips
      .withColumn("__b", expr(s"$ipCol div 65536"))
      .join(broadcast(blocks), Seq("__b"))
      .where(col(ipCol) >= col("__net") &&
        col(ipCol) < col("__net") + col("__width"))
    // LPM: the most specific (max prefix) covering block per IP row —
    // rank per id (ties impossible among distinct same-length blocks;
    // net asc pinned for determinism anyway)
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("__plen").desc, col("__net").asc)
    probed
      .withColumn("__rk", row_number().over(w))
      .where(col("__rk") === 1)
      .select(ips.columns.map(col) ++
        Seq(col("__net").as("net"), col("__plen").as("prefix_len")) ++
        payload.map(col): _*)
  }

  // --------------------------------------------------------- salted join

  /** Salted equi-join — the explicit skew breaker for the case AQE's
    * skew-join split cannot reach (a join the planner fused elsewhere, a
    * pre-AQE engine, or a deliberate static plan): a hot key ("the one
    * portal nameserver half the TLD delegates to") lands all its fact
    * rows in ONE reduce task; salting spreads each key over `salts`
    * sub-keys — fact rows take a DETERMINISTIC salt (an md5 slice of the
    * caller-named unique row id mod `salts`, NOT a random number: rerun/
    * resume/oracle stable), and the dim side replicates ×`salts` so
    * every (key, salt) pair finds its dim row. Result is EXACTLY the
    * plain inner equi-join — the spec and the oracle assert equality,
    * which is the operator's whole contract.
    *
    * Cost model (documented so callers don't cargo-cult it): dim rows
    * ×`salts` in the shuffle, hot-key reduce work ÷`salts`. Worth it iff
    * the dim is too big to broadcast and a key's fact share exceeds a
    * task's capacity. The engine's own frontier uses the same idea with
    * frequency-proportional salts (`Engine.saltOf`); this is the
    * reusable two-table form.
    */
  def saltedJoin(
      facts: DataFrame,
      factKey: String,
      factIdCol: String,
      dim: DataFrame,
      dimKey: String,
      salts: Int): DataFrame = {
    require(salts >= 1, s"saltedJoin: salts >= 1, got $salts")
    val salted = facts.withColumn("__salt",
      (conv(substring(md5(col(factIdCol).cast("string")), 1, 8), 16, 10)
        .cast("long") % salts).cast("int"))
    val replicated = dim
      .withColumn("__salt", explode(array((0 until salts).map(lit): _*)))
      .withColumnRenamed(dimKey, "__dk")
    salted
      .join(replicated,
        col(factKey) === col("__dk") && salted("__salt") === replicated("__salt"))
      .drop("__salt").drop("__dk")
  }

  // --------------------------------------------------------- group trend

  /** Per-group least-squares trend — drift detection over a keyed metric
    * (is this host's fetch latency creeping up? is a source's doc
    * quality sliding?): ordinary least squares per group, from the five
    * classic sums,
    *
    *   slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
    *
    * with `xCol`/`yCol` INTEGER columns (a day index, cents, mills — the
    * caller pre-scales) so every sum is an exact BIGINT and the ONLY
    * floating step is the final division — IEEE-correctly-rounded on
    * any engine (the `l2Normalize` precedent), so even the double output
    * replays bit-exactly. The intercept chains the same way:
    * `(Σy − slope·Σx) / n` evaluated in that exact shape on both sides.
    * Degenerate groups (n < 2 or zero x-variance) report null slope/
    * intercept rather than a division blow-up.
    *
    * Overflow posture: `n·Σxy` must fit a LONG — pre-scale units (days
    * not millis, dollars not micros) for huge groups; under ANSI mode an
    * overflow THROWS instead of silently wrapping (documented bound, not
    * a silent failure mode).
    *
    * 100 TB shape: ONE map-side-combinable aggregate — five sums per
    * group key; nothing else shuffles.
    */
  def groupTrend(df: DataFrame, keyCols: Seq[String], xCol: String,
      yCol: String): DataFrame = {
    require(keyCols.nonEmpty, "groupTrend: key columns required")
    df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col(xCol).cast("long")).as("sx"),
        sum(col(yCol).cast("long")).as("sy"),
        sum(expr(s"cast($xCol as bigint) * cast($xCol as bigint)")).as("sxx"),
        sum(expr(s"cast($xCol as bigint) * cast($yCol as bigint)")).as("sxy"))
      .withColumn("__den", expr("n * sxx - sx * sx"))
      .withColumn("slope",
        when(col("__den") =!= 0L,
          expr("cast(n * sxy - sx * sy as double) / cast(__den as double)")))
      .withColumn("intercept",
        when(col("slope").isNotNull,
          expr("(cast(sy as double) - slope * cast(sx as double)) " +
            "/ cast(n as double)")))
      .drop("__den")
  }

  // ------------------------------------------------------- period movers

  /** Period-over-period movers — the "rising/falling domains" report:
    * per key, the row count in each period next to the count in the
    * ADJACENT previous period and the change in mills. A gap (no
    * previous-period row at exactly period−1) yields null `n_prev`/
    * `change_mill` — comparing across a hole would understate the move,
    * and a zero-count denominator has no finite ratio anyway.
    * `change_mill` is `floor((n−n_prev)·1000 / n_prev)` computed in
    * DOUBLE then floored — deltas are signed, and integer `div`
    * truncates toward zero in Spark but floors in DuckDB, so the
    * engine-portable form for signed ratios is the correctly-rounded
    * double divide + floor (both engines bit-agree), not integer
    * division (the positive-operand-only house rule, documented at its
    * boundary here).
    *
    * 100 TB shape: ONE map-side-combinable (keys, period) count, then a
    * per-key lag window over period-grain rows (periods per key =
    * cadence-sized, not data-sized).
    */
  /** Adjacent-event transition counts — the first-order Markov view of a
    * keyed event stream ("after a view, what happens next?"): per
    * entity, events order by (time, `tieCol`) — the tiebreak column
    * makes the order TOTAL, so same-timestamp events have a defined,
    * engine-stable adjacency — and every consecutive (from, to) pair
    * counts corpus-wide, with `p_mill = n·1000 div Σ n over from` (all
    * operands non-negative ⇒ engine-portable integer division).
    *
    * 100 TB shape: one per-entity lag window (entity-keyed shuffle of
    * (entity, type, ts) triples — the payload never travels), then a
    * map-side-combinable count on the (from, to) key — the transition
    * matrix is |types|², a dimension; the per-from total joins back on
    * the |types|-sized key.
    */
  def transitionCounts(events: DataFrame, entityCol: String,
      typeCol: String, tsCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(entityCol))
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    val pairs = events
      .select(col(entityCol), col(typeCol).as("to_type"), col(tsCol),
        col(tieCol))
      .withColumn("from_type", lag(col("to_type"), 1).over(w))
      .where(col("from_type").isNotNull)
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).cast("long").as("n"))
    val totals = pairs.groupBy("from_type")
      .agg(sum(col("n")).cast("long").as("__tot"))
    pairs.join(totals, Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        expr("n * 1000 div __tot").as("p_mill"))
  }

  /** Retention cohort matrix — the "do users/domains come back" audit:
    * entities cohort by their FIRST-activity period, and each later
    * period of activity counts them into (cohort, offset) — emitting
    * `n_active` distinct entities and `retention_mill = n_active·1000
    * div cohort_size`. Offset 0 is the cohort itself (retention 1000 by
    * construction — kept as the denominators' audit row); periods with
    * no returning entity simply have no row (sparse, not zero-filled —
    * at corpus scale the dense matrix is cohorts × lifetime and mostly
    * empty). For a crawl: domains cohorted by first-seen week vs the
    * weeks they kept responding.
    *
    * 100 TB shape: first-period = one map-side-combinable min-agg per
    * entity; activity de-dups to (entity, period) the same way; the
    * cohort join keys on the entity; the matrix agg keys on the tiny
    * (cohort, offset); cohort sizes broadcast back.
    */
  def retentionCohorts(events: DataFrame, entityCol: String,
      periodCol: Column): DataFrame = {
    val acts = events
      .select(col(entityCol).as("__e"), periodCol.cast("long").as("__p"))
      .distinct()
    val first = acts.groupBy(col("__e"))
      .agg(min(col("__p")).as("cohort"))
    val sizes = first.groupBy(col("cohort"))
      .agg(count(lit(1)).cast("long").as("cohort_size"))
    acts.join(first, Seq("__e"))
      .groupBy(col("cohort"), (col("__p") - col("cohort")).as("offset"))
      .agg(count(lit(1)).cast("long").as("n_active"))
      .join(broadcast(sizes), Seq("cohort"))
      .select(col("cohort"), col("offset"), col("n_active"),
        col("cohort_size"),
        expr("n_active * 1000 div cohort_size").as("retention_mill"))
  }

  def periodMovers(events: DataFrame, keyCols: Seq[String],
      periodCol: Column): DataFrame = {
    require(keyCols.nonEmpty, "periodMovers: key columns required")
    val counts = events
      .select(keyCols.map(col) :+ periodCol.cast("long").as("period"): _*)
      .groupBy((keyCols :+ "period").map(col): _*)
      .agg(count(lit(1)).cast("long").as("n_cur"))
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col("period"))
    counts
      .withColumn("__pp", lag(col("period"), 1).over(w))
      .withColumn("__pn", lag(col("n_cur"), 1).over(w))
      .withColumn("n_prev",
        when(col("__pp") === col("period") - 1, col("__pn")))
      .withColumn("change_mill",
        when(col("n_prev").isNotNull,
          floor((col("n_cur") - col("n_prev")).cast("double") * 1000.0 /
            col("n_prev").cast("double")).cast("long")))
      .drop("__pp", "__pn")
  }
}
