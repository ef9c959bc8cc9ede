package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fixed-size distributed sketches: HyperLogLog distinct counting and a
  * Count-Min frequency sketch. Both are built from the same derandomized
  * hash family the rest of the library uses (md5 hex slices — DuckDB can
  * replay every bit), and both reduce with ASSOCIATIVE+COMMUTATIVE
  * integer aggregates (`max`, `sum`), so results are independent of
  * partitioning, task order, and engine — the property that makes them
  * oracle-exact AND safe under Spark retries/speculation.
  *
  * Why sketches at 100 TB: `count(distinct key)` and exact per-key
  * frequency tables shuffle every distinct key; these shuffle a FIXED
  * number of rows per group (m registers / d·w counters) regardless of
  * input size, with map-side partial aggregation doing almost all the
  * work. The sketch state is itself a DataFrame, so shards can be
  * sketched independently and merged later with the same `max`/`sum` —
  * the canonical "sketch per partition, merge on the driver-free path"
  * shape.
  *
  * Float discipline: all sketch STATE is exact LONG arithmetic. The one
  * double appears in the final HLL estimate (one multiply + one divide +
  * one floor, each correctly rounded by IEEE 754 on any engine), so even
  * the estimate replays bit-exactly.
  */
object SketchOps {

  // ---------------------------------------------------------------- HLL

  /** Register width: 8-bit bucket index (m = 256) + 52 rho bits. 52 is
    * chosen so 2^(52 - rho) stays a LONG and the 256-register sum stays
    * well under 2^63 (max 256 · 2^52 = 2^60). */
  val HllP = 8
  val HllM = 256
  private val RhoBits = 52

  /** alpha_m · m² · 2^52 for m = 256 — the whole numerator of the raw
    * HLL estimate as ONE double literal, computed once here and
    * interpolated into the oracle SQL, so both engines perform exactly
    * one multiply-free division against it. */
  val HllNumerator: Double =
    0.7213 / (1.0 + 1.079 / HllM) * HllM.toDouble * HllM.toDouble *
      (1L << RhoBits).toDouble

  /** HyperLogLog distinct-count sketch per group (Flajolet et al. 2007,
    * raw estimator — the small-range linear-counting correction is a
    * serving-side choice that needs `ln`, which is NOT correctly rounded
    * by IEEE and therefore not engine-portable; the `hll_zeros` column
    * carries the state a caller needs to apply it).
    *
    * Output per group: `hll_sum` (Σ over all m registers of
    * 2^(52 − r_b), empty registers r_b = 0), `hll_zeros` (empty-register
    * count), `hll_est` (floor(alpha·m²·2^52 / hll_sum) as LONG).
    *
    * Plan: one (group, bucket) max-agg (map-side combinable, ≤ m rows
    * per group survive the shuffle) then one per-group sum. Nothing
    * proportional to |input| ever shuffles.
    *
    * rho is computed EXACTLY via the binary-string length of the 52-bit
    * slice (`53 − length(bin(x))`, x = 0 pinned to rho = 52) — no log2,
    * no float: `length(bin(x))` = floor(log2 x) + 1 as pure integer/string
    * ops on both engines (DuckDB: `length(printf('%b', x))`).
    */
  def hllDistinct(
      df: DataFrame,
      keyCol: Column,
      groupCols: Seq[String]): DataFrame = {
    val hex = md5(keyCol.cast("string"))
    // 2 hex chars = 8 bits → bucket in [0, 256); 13 hex chars = 52 rho bits.
    val bucket = conv(substring(hex, 1, 2), 16, 10).cast("long")
    val x = conv(substring(hex, 3, 13), 16, 10).cast("long")
    val rho = when(x === 0L, lit(RhoBits))
      .otherwise(lit(RhoBits + 1) - length(bin(x)))
      .cast("int")

    val g = groupCols.map(col)
    val registers = df
      .select(g :+ bucket.as("__bucket") :+ rho.as("__rho"): _*)
      .groupBy(g :+ col("__bucket"): _*)
      .agg(max(col("__rho")).as("__r"))
    hllEstimate(registers, groupCols)
  }

  /** Collapse a register table `(groups..., __bucket, __r)` into the
    * per-group `(hll_sum, hll_zeros, hll_est)` triple — the serving half
    * of [[hllDistinct]], shared with [[hllSlidingDistinct]]. Register
    * tables are a commutative-monoid state (per-bucket max), so any
    * union of register tables over the same key space estimates the
    * union of their inputs.
    */
  private def hllEstimate(registers: DataFrame, groupCols: Seq[String])
      : DataFrame =
    registers
      .groupBy(groupCols.map(col): _*)
      .agg(
        (sum(expr(s"shiftleft(CAST(1 AS BIGINT), $RhoBits - __r)")) +
          (lit(HllM.toLong) - count(lit(1))) * lit(1L << RhoBits))
          .as("hll_sum"),
        (lit(HllM.toLong) - count(lit(1))).as("hll_zeros"))
      .withColumn("hll_est",
        floor(lit(HllNumerator) / col("hll_sum").cast("double"))
          .cast("long"))

  /** Sliding-window distinct counts from day-grain HLL registers — "7-day
    * rolling distinct users per type" at sketch cost: registers build
    * ONCE per (group, day), then each day's ≤ m register rows fan out to
    * the `windowDays` window labels they fall inside (label W covers
    * days (W−windowDays, W]), merge by per-bucket max (HLL states form a
    * commutative monoid — merging registers IS the union sketch), and
    * estimate per (group, label). Labels are restricted to OBSERVED days
    * — every output row answers "distinct keys in the window ending at
    * this day".
    *
    * `dayCol` must be an integer day column (e.g.
    * `unix_millis div 86400000`).
    *
    * 100 TB shape: the ONLY input-sized shuffle is the day-grain register
    * agg (map-side combinable, ≤ m rows per (group, day) survive);
    * everything after operates on register rows — the fan-out costs
    * ≤ m·windowDays rows per (group, day) REGARDLESS of how many events
    * the day held, which is the whole point vs re-counting each window.
    */
  def hllSlidingDistinct(
      df: DataFrame,
      keyCol: Column,
      dayCol: Column,
      windowDays: Int,
      groupCols: Seq[String]): DataFrame = {
    require(windowDays >= 1, "hllSlidingDistinct: windowDays >= 1")
    val hex = md5(keyCol.cast("string"))
    val bucket = conv(substring(hex, 1, 2), 16, 10).cast("long")
    val x = conv(substring(hex, 3, 13), 16, 10).cast("long")
    val rho = when(x === 0L, lit(RhoBits))
      .otherwise(lit(RhoBits + 1) - length(bin(x)))
      .cast("int")
    val g = groupCols.map(col)
    val dayRegs = df
      .select(g ++ Seq(dayCol.cast("long").as("__day"),
        bucket.as("__bucket"), rho.as("__rho")): _*)
      .groupBy(g ++ Seq(col("__day"), col("__bucket")): _*)
      .agg(max(col("__rho")).as("__r0"))
    val labels = df.select(dayCol.cast("long").as("window_day")).distinct()
    val windowed = dayRegs
      .withColumn("window_day",
        explode(sequence(col("__day"), col("__day") + (windowDays - 1))))
      .join(labels, Seq("window_day"))
      .groupBy(g ++ Seq(col("window_day"), col("__bucket")): _*)
      .agg(max(col("__r0")).as("__r"))
    hllEstimate(windowed, groupCols :+ "window_day")
  }

  // ---------------------------------------------------------- Count-Min

  /** Count-Min sketch (Cormode & Muthukrishnan 2005): `d` independent
    * rows of `w` counters; an item increments one counter per row
    * (row-salted hash); a point estimate is the MIN over its d counters
    * — an overestimate by construction, never an under.
    *
    * `cmsBuild` returns the counter table `(depth, slot, cnt)` — d·w
    * rows max, independent of input size. The heavy lifting is one
    * map-side-combinable sum over a 2-short-int key; at 100 TB the
    * shuffle carries ≤ d·w rows per map task.
    *
    * `w` must divide 2^16 (the slot hash is a 16-bit md5 slice taken
    * mod w; divisibility makes the slot distribution exactly unbiased).
    */
  def cmsBuild(
      df: DataFrame,
      keyCol: Column,
      depth: Int = 4,
      width: Int = 512): DataFrame = {
    require(depth >= 1 && depth <= 8, "cmsBuild: depth in [1, 8]")
    require(width >= 2 && 65536 % width == 0,
      "cmsBuild: width must divide 2^16")
    val rows = array((0 until depth).map { d =>
      struct(lit(d).as("depth"), cmsSlot(keyCol, d, width).as("slot"))
    }: _*)
    df.select(explode(rows).as("__c"))
      .groupBy(col("__c.depth").as("depth"), col("__c.slot").as("slot"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Slot of `key` in CMS row `d`: 16-bit md5 slice of "d:key" mod w. */
  def cmsSlot(keyCol: Column, d: Int, width: Int): Column =
    (conv(substring(md5(concat(lit(s"$d:"), keyCol.cast("string"))), 1, 4),
      16, 10).cast("long") % width).cast("int")

  /** Point-estimate each `probes` row's key against a built counter
    * table: est = min over the d rows of the key's counter (a missing
    * counter row means nothing ever hashed there — 0). Probes is
    * expected small (a top-k list, a watchlist) and broadcasts; the
    * counter table is ≤ d·w rows, so the whole lookup is
    * broadcast-sized regardless of how much data built the sketch.
    */
  def cmsEstimate(
      counters: DataFrame,
      probes: DataFrame,
      probeKey: String,
      depth: Int = 4,
      width: Int = 512): DataFrame = {
    require(!probes.columns.exists(Set("depth", "slot", "cnt", "__d", "__s")),
      "cmsEstimate: probe columns may not be named depth/slot/cnt/__d/__s")
    val slots = probes.withColumn("__c",
      explode(array((0 until depth).map { d =>
        struct(lit(d).as("d"), cmsSlot(col(probeKey), d, width).as("s"))
      }: _*)))
      .withColumn("__d", col("__c").getField("d"))
      .withColumn("__s", col("__c").getField("s"))
      .drop("__c")
    slots
      .join(broadcast(counters),
        col("__d") === counters("depth") && col("__s") === counters("slot"),
        "left")
      .groupBy(probes.columns.map(col): _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))
  }

  // --------------------------------------------- DD-style quantile sketch

  /** Mergeable quantile sketch over POSITIVE integers, DDSketch-shaped
    * (Masson et al. 2019) but with PURE INTEGER bin math so both engines
    * replay it bit-exactly (DDSketch's log-gamma bins need `log`, which
    * is not correctly rounded by IEEE and thus not engine-portable):
    *
    *   - values 1..3 get exact singleton bins;
    *   - values ≥ 4 bin by (octave p = floor(log2 x), 2-bit sub-octave)
    *     — γ = 2^(1/4), relative error ≤ 1/8 by construction — with p
    *     taken from the binary-string LENGTH (integer/string ops only)
    *     and the sub-octave from two shifts and a mask;
    *   - a bin's representative is its integer midpoint.
    *
    * Quantile q = num/den reads the first bin whose cumulative count
    * reaches ceil(n·num/den), computed as `(n·num + den − 1) div den` —
    * no doubles ANYWHERE, including the thresholds (the reason quantiles
    * are rationals here, not 0.9-style doubles).
    *
    * Output: one row per group with `n` and one BIGINT estimate column
    * per requested quantile. Scale shape: the only state is ≤ (4·64 + 3)
    * bins per group — a (group, bin) map-side-combinable count, a
    * per-group cumulative window over those few bins, one final
    * min-aggregate. Nothing proportional to |input| shuffles, and two
    * shards' sketches merge by summing bin counts (associative).
    *
    * Rows with value < 1 are REJECTED (the octave of 0 is undefined):
    * the operator fails loudly rather than silently dropping them — a
    * 100 TB run discovering a silent filter in a metric is worse than a
    * failed job.
    */
  def ddQuantiles(
      df: DataFrame,
      valueCol: Column,
      groupCols: Seq[String],
      quantiles: Seq[(String, Int, Int)] =
        Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100))): DataFrame = {
    require(quantiles.nonEmpty, "ddQuantiles: at least one quantile")
    quantiles.foreach { case (n, num, den) =>
      require(num >= 1 && num <= den && den >= 1,
        s"ddQuantiles: $n = $num/$den out of (0, 1]")
    }
    val g = groupCols.map(col)

    val binned = df
      .select(g :+ valueCol.cast("long").as("__x"): _*)
      .withColumn("__p", (length(bin(col("__x"))) - 1).cast("int"))
      .withColumn("__sub",
        when(col("__x") < 4L, lit(0))
          .otherwise(expr("shiftright(__x, __p - 2) & 3").cast("int")))
      // the guard lives INSIDE __bin's case chain (the column every
      // downstream path reads) — a standalone check column would be
      // pruned by Catalyst, and a lazily-evaluated CASE branch would
      // skip a guard hidden in __p for small x
      .withColumn("__bin",
        when(col("__x") < 1L,
          raise_error(lit("ddQuantiles: values must be >= 1")).cast("int"))
          .when(col("__x") < 4L, col("__x").cast("int"))
          .otherwise(lit(4) * col("__p") + col("__sub")))
      .withColumn("__rep",
        when(col("__x") < 4L, col("__x"))
          .otherwise(
            expr("shiftleft(CAST(4 + __sub AS BIGINT), __p - 2)" +
              " + (shiftleft(CAST(1 AS BIGINT), __p - 2) - 1) div 2")))

    val bins = binned
      .groupBy(g :+ col("__bin"): _*)
      .agg(count(lit(1)).as("__cnt"), max(col("__rep")).as("__rep"))

    import org.apache.spark.sql.expressions.Window
    val perGroup = Window.partitionBy(groupCols.map(col): _*)
    val ordered = perGroup.orderBy(col("__bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = bins
      .withColumn("__cum", sum(col("__cnt")).over(ordered))
      .withColumn("__n", sum(col("__cnt")).over(perGroup))

    val aggs = max(col("__n")).as("n") +: quantiles.map {
      case (name, num, den) =>
        min(when(
          col("__cum") >= expr(s"(__n * $num + ${den - 1}) div $den"),
          col("__rep"))).as(name)
    }
    cum.groupBy(g: _*).agg(aggs.head, aggs.tail: _*)
  }

  // ----------------------------------------------------------- Bloom

  /** Pairwise set algebra from HLL registers — "how much do these
    * audiences/corpora overlap," answered at sketch cost for EVERY label
    * pair at once: per-label registers build once, every register row
    * fans out to the pairs containing its label, per-pair union
    * registers reduce by bucket max (the HLL merge monoid), and the
    * intersection comes by inclusion–exclusion,
    * `est_inter = est_a + est_b − est_union` — which can read slightly
    * NEGATIVE when true overlap is small relative to sketch error
    * (reported raw; `jac_mill` clamps at 0 — the classic documented
    * limitation of inclusion–exclusion on HLL, honest rather than
    * hidden). Output per unordered pair (a < b): both per-label
    * estimates, the union estimate, the raw intersection estimate, and
    * Jaccard in mills.
    *
    * 100 TB shape: the ONLY input-sized shuffle is the per-label
    * register agg (≤ m rows per label survive); the pair fan-out costs
    * ≤ m·(|labels|−1) register rows per label — label-dimension work,
    * REGARDLESS of how many keys each label held; the label list rides
    * a broadcast.
    */
  def hllPairwiseOverlap(
      df: DataFrame,
      keyCol: Column,
      labelCol: String): DataFrame = {
    val hex = md5(keyCol.cast("string"))
    val bucket = conv(substring(hex, 1, 2), 16, 10).cast("long")
    val x = conv(substring(hex, 3, 13), 16, 10).cast("long")
    val rho = when(x === 0L, lit(RhoBits))
      .otherwise(lit(RhoBits + 1) - length(bin(x)))
      .cast("int")
    val regs = df
      .select(col(labelCol).as("__l"), bucket.as("__bucket"),
        rho.as("__rho"))
      .groupBy(col("__l"), col("__bucket"))
      .agg(max(col("__rho")).as("__r"))
    val labels = df.select(col(labelCol).as("__o")).distinct()
    val fanned = regs
      .join(broadcast(labels), col("__l") =!= col("__o"))
      .select(least(col("__l"), col("__o")).as("label_a"),
        greatest(col("__l"), col("__o")).as("label_b"),
        col("__bucket"), col("__r"))
      .groupBy(col("label_a"), col("label_b"), col("__bucket"))
      .agg(max(col("__r")).as("__r"))
    val unions = hllEstimate(fanned, Seq("label_a", "label_b"))
      .select(col("label_a"), col("label_b"),
        col("hll_est").as("est_union"))
    val singles = hllEstimate(regs.withColumnRenamed("__l", "label"),
      Seq("label"))
    unions
      .join(singles.select(col("label").as("label_a"),
        col("hll_est").as("est_a")), Seq("label_a"))
      .join(singles.select(col("label").as("label_b"),
        col("hll_est").as("est_b")), Seq("label_b"))
      .select(col("label_a"), col("label_b"), col("est_a"), col("est_b"),
        col("est_union"),
        (col("est_a") + col("est_b") - col("est_union"))
          .as("est_intersect"))
      .withColumn("jac_mill",
        expr("greatest(0L, est_intersect) * 1000 div est_union"))
  }

  /** Bloom filter as a DataFrame — the broadcast-able join-pruning sketch
    * next to the frontier's mutable cuckoo filter (bloom: no deletes,
    * smaller per key, perfect for a one-shot "does the big side's key
    * possibly exist in the small side" prefilter). State is `(word, bits)`
    * — `mBits/64` LONG words, built by k md5-derived bit positions per key
    * and a `bit_or` aggregate. Deterministic (the library's salted-md5
    * hash family), engine-replayable, and MERGEABLE: two builds over
    * disjoint shards union+bit_or into exactly the whole-corpus filter
    * (same associativity argument as the CMS counter merge).
    *
    * `mBits` must divide 2^32 (the bit position is a 32-bit md5 slice
    * mod m; divisibility keeps it exactly uniform). Bits pack into
    * 63-BIT words — bit 63 would need `1L << 63`, which Spark wraps
    * silently but DuckDB's checked shift REJECTS as overflow; 63-bit
    * packing keeps every mask positive and both engines in exact
    * agreement (packing density is irrelevant to the FP rate).
    *
    * 100 TB shape: positions are scan-local codegen; the ONLY shuffle
    * carries ≤ ceil(mBits/63) rows per map task (map-side bit_or
    * combine); the finished sketch is ≤ ceil(mBits/63) rows —
    * broadcast-sized regardless of how many keys built it.
    */
  def bloomBuild(
      df: DataFrame,
      keyCol: Column,
      mBits: Long = 65536L,
      k: Int = 4): DataFrame = {
    require(k >= 1 && k <= 8, "bloomBuild: k in [1, 8]")
    require(mBits >= 64 && 4294967296L % mBits == 0,
      "bloomBuild: mBits must divide 2^32")
    val pos = array((0 until k).map(i =>
      struct((bloomPos(keyCol, i, mBits) / 63L).cast("long").as("word"),
        bloomMask(bloomPos(keyCol, i, mBits)).as("mask"))): _*)
    df.select(explode(pos).as("__b"))
      .groupBy(col("__b.word").as("word"))
      .agg(expr("bit_or(__b.mask)").as("bits"))
  }

  /** Bit position of `key` for hash `i`: 32-bit md5 slice of "i:key"
    * mod m (same salt shape as [[cmsSlot]]).
    */
  def bloomPos(keyCol: Column, i: Int, mBits: Long): Column =
    conv(substring(md5(concat(lit(s"$i:"), keyCol.cast("string"))), 1, 8),
      16, 10).cast("long") % mBits

  /** In-word mask for a bit position: 2^(pos % 63) as a LONG.
    * `functions.shiftleft` takes only a literal shift count, so the mask
    * is `pow(2, b)` instead — exact for b ≤ 62 (a power of two is a
    * single mantissa bit; the double→long cast loses nothing).
    */
  private def bloomMask(posCol: Column): Column =
    pow(lit(2.0d), (posCol % 63L).cast("double")).cast("long")

  /** Probe rows of `probes` against a built filter: `might_contain` is
    * true iff ALL k bit positions are set (false positives possible at
    * the classic (1−e^{−kn/m})^k rate, false negatives never — spec-
    * pinned). The filter joins on the word key; a missing word row means
    * no key ever hashed there (bits 0). The intended composition is
    * broadcast-prefiltering a corpus-sized probe side against a
    * dimension-built filter BEFORE an expensive join — the sketch is
    * ≤ mBits/64 rows, so the join is broadcast-sized by construction.
    */
  def bloomMightContain(
      sketch: DataFrame,
      probes: DataFrame,
      probeCol: String,
      mBits: Long = 65536L,
      k: Int = 4): DataFrame = {
    require(k >= 1 && k <= 8, "bloomMightContain: k in [1, 8]")
    val pc = col(probeCol)
    // k broadcast lookups, not explode+regroup: the probe side stays
    // SHUFFLE-FREE — at corpus scale the whole prefilter is scan-local
    // codegen plus k broadcast hash joins against a ≤ mBits/64-row dim
    val joined = (0 until k).foldLeft(probes) { (acc, i) =>
      val word = (bloomPos(pc, i, mBits) / 63L).cast("long")
      val mask = bloomMask(bloomPos(pc, i, mBits))
      acc
        .join(broadcast(sketch.select(col("word").as(s"__w$i"),
          col("bits").as(s"__bits$i"))), word === col(s"__w$i"), "left_outer")
        .withColumn(s"__hit$i",
          (coalesce(col(s"__bits$i"), lit(0L)).bitwiseAND(mask)) === mask)
        .drop(s"__w$i", s"__bits$i")
    }
    joined
      .withColumn("might_contain",
        (0 until k).map(i => col(s"__hit$i")).reduce(_ && _))
      .drop((0 until k).map(i => s"__hit$i"): _*)
  }
}
