package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus deduplication at training-data scale. Five strategies, each a
  * declarative transformation (scan → narrow ops → one shuffle on a short
  * key) so Catalyst prunes columns and AQE handles skewed clusters:
  *
  *   - exact: hash-groupBy on a normalized md5 fingerprint;
  *   - MinHash+LSH: shingle → salted-md5 minima → band signature →
  *     bucket self-join → (optional) verified Jaccard;
  *   - SimHash: 64-bit signature, near-dup = small Hamming distance within
  *     band buckets;
  *   - n-gram Jaccard: exact token-shingle overlap via explode + self-join
  *     (the verification stage of MinHash candidates);
  *   - embedding cosine: near-dup pairs above a cosine threshold via
  *     SRP-LSH bucketing (reuses [[SimilarityOps]]).
  *
  * All signatures are deterministic functions of the row — no RNG state —
  * so incremental re-runs over new partitions produce merge-compatible
  * signatures (required for a 100 TB corpus deduped in daily increments).
  */
object DedupOps {

  /** Input-split guard for compute-bound stages: a corpus-scale scan
    * arrives in thousands of splits, but a small test/bench input is one
    * parquet file = one or two partitions, serializing the whole tokenize/
    * hash pipeline onto a single core. When (and only when) the file scan
    * has fewer files than cores, spread it; at scale (or for non-file
    * inputs, which already carry the session parallelism) this is a no-op,
    * so no shuffle is added to the real path. Probed via `inputFiles` —
    * no `.rdd` conversion of the plan.
    */
  private[ops] def spread(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    val files = df.inputFiles.length
    if (files > 0 && files < want) df.repartition(want) else df
  }

  /** Unpersist `cached` as soon as the FIRST query that consumes it
    * completes (success or failure) — the scope of every cache in this
    * file is "shared sub-plan within one downstream action", so holding
    * executor storage beyond that action only thrashes the LRU in a
    * long-running pipeline that calls these builders repeatedly. The
    * consuming query is recognized by containing the cached frame's
    * canonicalized analyzed subtree; the listener is one-shot and
    * unregisters itself. If the caller never runs an action the cache
    * stays registered but was never materialized, so no executor storage
    * is held either way.
    */
  private[graft] def cacheUntilConsumed[T](df: org.apache.spark.sql.Dataset[T])
      : org.apache.spark.sql.Dataset[T] = {
    val c = df.cache(); unpersistAfter(c, c); c
  }

  /** When the first query whose analyzed plan contains `trigger`'s subtree
    * completes (success or failure), unpersist `cached` and unregister.
    * `trigger` may be a frame derived from `cached` — use that when the
    * cache feeds an intermediate action (e.g. a stats collect) before the
    * real consumer, so the storage survives until the *final* plan runs.
    */
  private[graft] def unpersistAfter[T, U](trigger: org.apache.spark.sql.Dataset[T],
      cached: org.apache.spark.sql.Dataset[U]): Unit = {
    val session = cached.sparkSession
    val target = trigger.queryExecution.analyzed.canonicalized
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      private def maybe(qe: org.apache.spark.sql.execution.QueryExecution): Unit =
        if (qe.analyzed.exists(_.canonicalized == target)) {
          cached.unpersist(blocking = false)
          session.listenerManager.unregister(this)
        }
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = maybe(qe)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = maybe(qe)
    }
    session.listenerManager.register(listener)
  }

  /** Exact duplicate groups keyed by normalized-text md5. Returns one row
    * per distinct content hash with the kept (minimum) id and the group
    * size — the classic map-side-combinable shape.
    */
  def exactDupGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), TextOps.normFingerprint(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Per-document MinHash band buckets. Hash family: TWO md5s per shingle
    * (`md5(s)`, `md5('~'||s)`) sliced into eight independent 32-bit (8-hex)
    * chunk components — 4× less hashing than one salted md5 per component,
    * with chunk width high enough that min-value ties stay negligible
    * (16-bit chunks measurably inflate unrelated-pair collisions). The
    * chunk minima are computed ROW-LOCALLY (`array_min` over a
    * `transform` of the per-row hash arrays) — same minima as an
    * explode + min-aggregate, with ZERO shuffle: the r6 plan audit showed
    * the aggregate formulation planned a SortAggregate pair (min(string)
    * buffers are not UnsafeRow-mutable, so Spark falls back to sort-based
    * aggregation) around an exchange of every exploded shingle row; the
    * row-local form keeps the whole signature inside one
    * WholeStageCodegen span next to the scan, which is also the right
    * 100 TB shape (signatures are a pure map — no reason for corpus rows
    * to leave their input split). Band b's bucket is the concat of its
    * `rowsPerBand` minima. Candidate near-dups collide on (band, bucket)
    * — a short-key shuffle. `bands × rowsPerBand ≤ 8` with this family.
    */
  def minhashBands(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, bands: Int = 4, rowsPerBand: Int = 2): DataFrame = {
    require(bands * rowsPerBand <= 8, "chunk family provides 8 components")
    // one md5 pair per shingle, materialized as two per-row arrays so each
    // digest is computed once and every chunk minimum is a cheap
    // substring pass over it (8 passes over 32-hex strings, not 8 md5s).
    // The no-shingle drop (docs with < k tokens had no rows under the
    // explode formulation) is phrased on the TOKEN COUNT, not on the hash
    // arrays: a `size(_h1) > 0` filter gets predicate-pushed below the
    // `spread` exchange and evaluates the whole md5 pipeline on the
    // pre-spread (possibly single-split) scan side — measured 2.9 s
    // single-task at sf0.1. The token-count form is equivalent
    // (shingles(text, k) is non-empty iff tokens >= k), cheap enough to
    // ride the scan, and shrinks the exchange.
    val base = spread(docs.select(col(idCol), col(textCol))
        .where(size(TextOps.tokens(col(textCol))) >= shingleK))
      .select(col(idCol), TextOps.shingles(col(textCol), shingleK).as("_sh"))
      .select(col(idCol),
        transform(col("_sh"), s => md5(s.cast("binary"))).as("_h1"),
        transform(col("_sh"), s => md5(concat(lit("~"), s).cast("binary")))
          .as("_h2"))
    def chunkMin(i: Int) = {
      val (arr, off) = if (i < 4) (col("_h1"), 1 + 8 * i)
        else (col("_h2"), 1 + 8 * (i - 4))
      array_min(transform(arr, h => substring(h, off, 8)))
    }
    val mins = base.select(col(idCol) +:
      (0 until bands * rowsPerBand).map(i => chunkMin(i).as(s"c$i")): _*)
    val bandCols = (0 until bands).map { b =>
      val bucket = concat((0 until rowsPerBand).map(r =>
        col(s"c${b * rowsPerBand + r}")): _*)
      struct(lit(b).as("band"), bucket.as("bucket"))
    }
    mins.select(col(idCol), explode(array(bandCols: _*)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** LSH candidate pairs: ids sharing any band bucket (id_a < id_b). The
    * band table feeds both sides of the bucket self-join UNCACHED (r6):
    * with [[minhashBands]] now a zero-shuffle map, both sides reduce to
    * the identical scan→signature→Exchange(band, bucket) subtree, which
    * AQE de-duplicates at runtime via shuffle-stage reuse — one corpus
    * pass either way, without the InMemoryRelation build/scan overhead
    * the old cache paid (measured at sf0.1: q19 2.6→1.6 s, q45 6.1→4.1 s
    * steady after dropping it).
    */
  def minhashCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, bands: Int = 4, rowsPerBand: Int = 2): DataFrame = {
    val bb = minhashBands(docs, idCol, textCol, shingleK, bands, rowsPerBand)
    val a = bb.select(col(idCol).as("id_a"), col("band"), col("bucket"))
    val b = bb.select(col(idCol).as("id_b"), col("band"), col("bucket"))
    a.join(b, Seq("band", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Exact n-gram Jaccard for a GIVEN candidate-pair set (the verify stage
    * of MinHash+LSH): attach each side's distinct-shingle ARRAY to the pair
    * (two id-keyed joins) and count the overlap row-locally with
    * `array_intersect` — |∩| in one hash-set pass per pair, |∪| via
    * inclusion–exclusion from the row-local array sizes. Integer outputs
    * only, so oracle comparison is float-free.
    *
    * r6 shape (was: expand each pair by side-a's shingles and equi-join
    * side-b on (id_b, shingle), then count matches in a hash aggregate —
    * the span profile put the whole query's largest CPU block in exactly
    * that pair×shingle row stream). The array form is output-identical:
    * both sides are per-doc DISTINCT shingle sets, so
    * `size(array_intersect(a, b))` = the count of (id_a, id_b, sh) join
    * matches, and a pair whose side has no shingles is dropped by the
    * inner id-join in both forms (the explode form had no rows for such a
    * doc; here the token-count gate — tokens ≥ k ⟺ the shingle set is
    * non-empty, and cheap enough to ride the scan below the spread
    * exchange, the q17 pushdown lesson — removes the doc before the join).
    * Shuffle bytes are unchanged (a doc's shingles travel once per pair
    * either way); what disappears is the per-shingle join probe + hash-agg
    * update per expanded row, and the aggregate's shuffle of pair×shingle
    * partials.
    */
  def ngramJaccardForPairs(docs: DataFrame, pairs: DataFrame, idCol: String,
      textCol: String, shingleK: Int = 3, minShared: Int = 1): DataFrame = {
    val pairsC = cacheUntilConsumed(pairs.select("id_a", "id_b"))
    val ids = pairsC.select(col("id_a").as("id"))
      .union(pairsC.select(col("id_b").as("id"))).distinct()
    // per-doc dedup happens INSIDE the row (array_distinct — no corpus-wide
    // distinct shuffle), and only candidate docs' shingles ever materialize:
    // the candidate-id set is broadcast (ids are a tiny fraction of the
    // corpus — longs, not text) and the non-candidate rows are dropped
    // BEFORE any shingle string is built
    val shs = cacheUntilConsumed(spread(docs
      .select(col(idCol).as("id"), col(textCol).as("_jt"))
      .where(size(TextOps.tokens(col("_jt"))) >= shingleK)
      .join(broadcast(ids), "id"))
      .select(col("id"),
        array_distinct(TextOps.shingles(col("_jt"), shingleK)).as("_shs")))
    // ^ feeds both pair-attachment joins (2 consumers inside ONE downstream
    //   query; storage dropped when that query finishes)
    pairsC
      .join(shs.select(col("id").as("id_a"), col("_shs").as("_sa")), "id_a")
      .join(shs.select(col("id").as("id_b"), col("_shs").as("_sb")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("_sa"), col("_sb"))).cast("long").as("n_inter"),
        (size(col("_sa")) + size(col("_sb"))).cast("long").as("_nab"))
      // clamp to ≥ 1: the explode form could never emit a zero-overlap
      // pair (no join match → no aggregate row), so minShared = 0 must
      // behave exactly like 1 here too
      .where(col("n_inter") >= lit(math.max(minShared, 1)))
      .select(col("id_a"), col("id_b"), col("n_inter"),
        (col("_nab") - col("n_inter")).as("n_union"))
  }

  /** Exact n-gram Jaccard over ALL pairs sharing ≥1 shingle — a full
    * shingle self-join. A shingle shared by k docs produces k² join rows,
    * so this goes quadratic on hot shingles; use [[ngramJaccardForPairs]]
    * over [[minhashCandidatePairs]] for anything beyond small corpora (that
    * composition is what q19 ships).
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, minShared: Int = 1): DataFrame = {
    val ex = docs
      .select(col(idCol).as("id"), explode(TextOps.shingles(col(textCol), shingleK)).as("sh"))
      .distinct()
    val sizes = ex.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val inter = ex.as("x").join(ex.as("y"), col("x.sh") === col("y.sh"))
      .where(col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
      .where(col("n_inter") >= minShared)
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
      .select(col("id_a"), col("id_b"), col("n_inter"),
        (col("n_a") + col("n_b") - col("n_inter")).as("n_union"))
  }

  /** SimHash band buckets (4×16-bit bands), fully relational and
    * cross-engine exact: md5-derived 64-bit token hashes
    * ([[TextOps.tokenHashHex]]), per-bit votes summed in a hash aggregate
    * (explode → partial combine: 64 ints per doc leave the map side), band
    * bucket = the signed-majority bits of one 16-bit slice. No UDF — the
    * vote extraction is a codegen'd conv/shift/mask tree, and the DuckDB
    * oracle computes the identical buckets. Docs with zero tokens have no
    * signature and are absent (documented; an empty doc has no content to
    * near-dup against).
    */
  def simhashBuckets(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = spread(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(TextOps.tokens(lower(col(textCol)))).as("t"))
      .select(col(idCol), TextOps.tokenHashHex(col("t")).as("hx"))
    val voteCols = (0 until 64).map(j =>
      sum(TextOps.hexBit(col("hx"), j) * 2 - 1).as(s"v$j"))
    val votes = tok.groupBy(col(idCol)).agg(voteCols.head, voteCols.tail: _*)
    val bandCols = (0 until 4).map { b =>
      val bucket = (0 until 16).map { i =>
        when(col(s"v${b * 16 + i}") > 0, lit(1L << (15 - i))).otherwise(0L)
      }.reduce(_ + _)
      struct(lit(b).as("band"), bucket.as("bucket"))
    }
    votes.select(col(idCol), explode(array(bandCols: _*)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Embedding near-dup pairs: cosine ≥ threshold, found via SRP-LSH
    * bucketing (no corpus×corpus cross join at scale).
    */
  def embeddingNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
      dims: Int, threshold: Double, bits: Int = 10, tables: Int = 4): DataFrame = {
    def bucketed(side: String) =
      SimilarityOps.srpBuckets(emb, idCol, vecCol, dims, bits, tables, side, s"v_$side")
    bucketed("id_a").join(bucketed("id_b"), Seq("tbl", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "v_id_a", "v_id_b").dropDuplicates("id_a", "id_b")
      .withColumn("sim", SimilarityOps.cosine(col("v_id_a"), col("v_id_b")))
      .where(col("sim") >= threshold)
      .select("id_a", "id_b")
  }

  /** Connected components over an undirected near-dup pair set:
    * cluster id = min member id of the component (the canonical keep-one
    * representative for transitive near-dup groups — A≈B, B≈C ⇒ {A,B,C}
    * dedupe together even when A≉C directly).
    *
    * Distributed min-label propagation: labels live in a DataFrame, each
    * round joins them over the (symmetrized) edge set and takes the min of
    * self and neighbors — no driver-side graph, per-round cost is a few
    * shuffles on id. Two r6 round-count reductions (each round is a
    * sequential job barrier — checkpoint + convergence count — so on a
    * mostly-pairs near-dup graph the FIXED per-round cost, not data
    * volume, dominated the operator):
    *
    *   - the first propagation round is FUSED into label initialization
    *     (`lbl₀ = min(id, min in-docs neighbor)` — one aggregate over the
    *     checkpointed edges, no prior labels to join);
    *   - each round follows the neighbor-min step with a POINTER JUMP
    *     (`lbl ← min(lbl', labels[lbl'])` — the classic pointer-doubling
    *     acceleration): labels always hold ids of active in-docs nodes,
    *     so the lookup is one more id-keyed join, and reach roughly
    *     doubles per round — rounds ≈ log₂(diameter) instead of diameter,
    *     with identical fixpoint (min over an ever-larger reachable set;
    *     a no-change round still implies neighbor-min stability, which
    *     implies component-constant labels = component minimum).
    *
    * The loop exits early on convergence (a count of changed labels —
    * O(1) driver data); diameter-1 components (the near-dup common case)
    * now converge in ONE loop round (the detection round) instead of two.
    * The loop runs over the ACTIVE SET only — edge endpoints — because an
    * unpaired doc can never change label; at corpus scale that shrinks
    * every round's joins, checkpoints, and convergence counts from
    * |corpus| to |paired docs| (usually a small fraction), with one final
    * left join gluing singletons back as their own cluster.
    *
    * Each iteration goes through an EAGER `localCheckpoint`, not `cache`:
    * a cached frame keeps its full logical plan, so iteration k's plan
    * embeds the edge pipeline k times — analysis cost (and plan text)
    * grows O(iters²) and q43-style compositions hit six-figure plan line
    * counts. Checkpointing flattens each round to a LogicalRDD, keeping
    * per-round optimizer work constant — the same reason GraphX/
    * GraphFrames connected components checkpoint periodically.
    *
    * The default `localCheckpoint` rounds aren't recomputable on executor
    * loss — fine on a stable cluster (the frames are (id, lbl) pairs,
    * tiny next to the corpus, MEMORY_AND_DISK-persisted; superseded
    * rounds are freed by the ContextCleaner as the loop drops its
    * references). A 100×-scale run on PREEMPTIBLE executors should pass
    * `checkpointDir` instead: each round then goes through a reliable
    * `Dataset.checkpoint` to shared storage, so a lost executor re-reads
    * the round's files rather than failing the job — the GraphFrames-
    * recommended posture for iterative jobs on spot fleets. Same labels
    * either way (DedupQualitySpec pins reliable ≡ local).
    */
  def dupClusters(docs: DataFrame, pairs: DataFrame, idCol: String,
      maxIters: Int = 20, checkpointDir: Option[String] = None): DataFrame = {
    checkpointDir.foreach(docs.sparkSession.sparkContext.setCheckpointDir)
    // local checkpoints are LAZY (r6): localCheckpoint persists during
    // whatever action first computes the RDD, so each round's convergence
    // count doubles as the materializing action — one job per round
    // instead of a checkpoint job plus a count job (and the edge/init
    // frames fold into round 1's job the same way). The plan still
    // flattens to a LogicalRDD at ck() time, so per-round analysis cost
    // stays constant either way. The RELIABLE path stays eager: a lazy
    // Dataset.checkpoint writes its files in a second computation pass,
    // which is strictly worse than eager's one.
    val ck: DataFrame => DataFrame =
      if (checkpointDir.isDefined) _.checkpoint(true) else _.localCheckpoint(false)
    val edges = ck(pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct())
    val docIds = docs.select(col(idCol).as("id"))
    // Active-set restriction: only docs incident to an edge can EVER
    // change label under min-label propagation, so the iterative joins,
    // checkpoints, and convergence counts run over edge endpoints only —
    // at corpus scale the near-dup-paired subset is a small fraction of
    // the corpus, and carrying the untouched 90% through every round's
    // left join + count action is pure waste. Untouched docs are glued
    // back as their own singleton cluster with ONE left join at the end.
    // The left_semi keeps a pair endpoint that is not in `docs` inert
    // (labelless), exactly as it was when labels started from `docs`.
    // fused round 1: a node's first propagated label is min(id, min
    // neighbor-in-docs id) — neighbors restricted to docs members exactly
    // as a labels join would have (every dst is an endpoint, endpoints
    // carry labels iff they are in docs), computed straight off the
    // checkpointed edges with no label table yet
    val nbrMin = edges
      .join(docIds.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
      .groupBy(col("src").as("id")).agg(min(col("dst")).as("_m"))
    var labels = ck(edges.select(col("src").as("id")).distinct()
      .join(docIds, Seq("id"), "left_semi")
      .join(nbrMin, Seq("id"), "left_outer")
      .select(col("id"),
        least(col("id"), coalesce(col("_m"), col("id"))).as("lbl")))
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      val viaEdges = edges
        .join(labels.withColumnRenamed("id", "dst").withColumnRenamed("lbl", "nlbl"), "dst")
        .groupBy(col("src").as("id")).agg(min(col("nlbl")).as("minNbr"))
      // the change flag is computed IN the projection that builds the
      // round (lbl never null, so least/=!= are null-safe here): counting
      // changes is then a filter over the round's checkpoint instead of a
      // whole extra shuffle join of next against labels
      val prop = labels.join(viaEdges, Seq("id"), "left_outer")
        .select(col("id"), col("lbl"),
          least(col("lbl"), coalesce(col("minNbr"), col("lbl"))).as("_l1"))
      // pointer jump: follow the freshly-propagated label to ITS label
      // (labels hold active in-docs ids by the invariant above, so the
      // lookup is an id-keyed equi-join; left_outer for safety)
      val newLbl = least(col("_l1"), coalesce(col("_l2"), col("_l1")))
      val next = ck(prop
        .join(labels.select(col("id").as("_l1"), col("lbl").as("_l2")),
          Seq("_l1"), "left_outer")
        .select(col("id"), newLbl.as("lbl"), (newLbl =!= col("lbl")).as("_chg")))
      val changed = next.where(col("_chg")).count()
      labels = next.drop("_chg")
      converged = changed == 0
      it += 1
    }
    docIds.join(labels, Seq("id"), "left_outer")
      .select(col("id").as(idCol), coalesce(col("lbl"), col("id")).as("cluster"))
  }

  /** Cross-source duplication matrix — which sources duplicate WHICH, the
    * inter-source overlap accounting a mixture designer reads next to
    * [[CurationOps.sourceStats]] (a source that mostly mirrors another
    * should not get independent mixture weight): over near-dup `clusters`
    * (the [[dupClusters]] output), count for every unordered source pair
    * `src_a <= src_b` the clusters containing documents from BOTH sources;
    * the diagonal (`src_a == src_b`) counts clusters with ≥ 2 documents of
    * the same source, i.e. within-source duplication. Singleton clusters
    * contribute nothing by construction. Returns
    * `(src_a, src_b, n_clusters)`.
    *
    * 100 TB shape: the per-(cluster, source) rollup is one map-side-
    * combinable hash agg; the pair build self-joins THAT rollup on the
    * short cluster key (cluster sizes are near-dup-group sized, so the
    * join fans out per-cluster, AQE-splittable if one mega-cluster
    * appears); the output is ≤ |sources|² rows. Document text never
    * enters.
    */
  def crossSourceDupMatrix(clusters: DataFrame, labels: DataFrame,
      idCol: String, labelCol: String): DataFrame = {
    val lab = clusters
      .join(labels.select(col(idCol), col(labelCol).as("_src")), idCol)
      .groupBy(col("cluster"), col("_src"))
      .agg(count(lit(1)).as("_n"))
    val a = lab.select(col("cluster"), col("_src").as("src_a"),
      col("_n").as("_na"))
    val b = lab.select(col("cluster"), col("_src").as("src_b"))
    a.join(b, Seq("cluster"))
      .where(col("src_a") < col("src_b") ||
        (col("src_a") === col("src_b") && col("_na") >= 2))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_clusters"))
  }

  /** Benchmark decontamination (the GPT-3/PaLM-style n-gram overlap
    * check every LLM training pipeline runs before an eval): flag corpus
    * documents sharing ≥ `minShared` distinct `shingleK`-gram shingles
    * with a benchmark/eval set, returning (id, n_shared).
    *
    * 100 TB shape: the benchmark side is eval sets — tiny — so its
    * distinct shingle set BROADCASTS and the corpus streams through a
    * broadcast hash join with no corpus-side shuffle except the final
    * per-doc count (map-side combinable). Within-doc shingle dedup is
    * row-local (`array_distinct`), never a corpus-wide distinct.
    */
  def contaminatedDocs(docs: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, shingleK: Int = 5, minShared: Long = 1): DataFrame = {
    val bsh = bench
      .select(explode(array_distinct(TextOps.shingles(col(textCol), shingleK))).as("sh"))
      .distinct()
    val dsh = spread(docs.select(col(idCol), col(textCol)))
      .select(col(idCol),
        explode(array_distinct(TextOps.shingles(col(textCol), shingleK))).as("sh"))
    dsh.join(broadcast(bsh), "sh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Exact duplicate-span statistics — the substring-granularity dedup
    * signal (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better"): a document pair can be far apart as whole documents
    * yet share a verbatim 50-token boilerplate run that the model then
    * memorizes. For every `window`-token span (tokenized like
    * [[graft.ops.TextOps.shingles]] — lowercased whitespace tokens), count
    * corpus-wide occurrences of its fingerprint and report per document
    * how many of its spans are duplicated ANYWHERE (including within the
    * same document). Returns (idCol, n_spans, n_dup_spans); documents
    * shorter than `window` tokens report (0, 0), not a dropped row.
    *
    * The reference algorithm is a suffix array; the relational form —
    * sliding-window fingerprints through a count — detects exactly the
    * same condition ("some duplicated substring of ≥ window tokens covers
    * this position") with ops Catalyst can partition: the md5 is the
    * span's identity, so only 32-hex strings travel, never text.
    *
    * 100 TB shape: three shuffles, each skew-tolerant — (1) the frequency
    * count is a hash agg on fp with map-side combine (a boilerplate span
    * repeated 10^8 times still arrives as per-partition partials); (2) the
    * spans⋈freq equi-join on fp is AQE-skew-splittable; (3) the final
    * per-doc rollup keys on near-unique ids. Span explosion is ~|tokens|
    * rows/doc — the inherent cost of substring-level detection (the suffix
    * array pays the same linear factor).
    */
  def duplicateSpanStats(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 50): DataFrame = {
    require(window > 0, s"window must be positive, got $window")
    val spans = spread(docs.select(col(idCol), col(textCol)))
      .select(col(idCol),
        explode_outer(transform(TextOps.shingles(col(textCol), window),
          s => md5(s))).as("fp"))
    val freq = spans.where(col("fp").isNotNull)
      .groupBy(col("fp")).agg(count(lit(1)).as("_cnt"))
    spans.join(freq, Seq("fp"), "left_outer")
      .groupBy(col(idCol))
      .agg(count(col("fp")).as("n_spans"),
        count(when(col("_cnt") > 1, lit(1))).as("n_dup_spans"))
  }

  /** Duplicate-span REMOVAL — the acting half of [[duplicateSpanStats]]
    * (Lee et al. 2022 exact-substring dedup): for every `window`-token
    * span duplicated anywhere in the corpus, keep the single globally
    * first occurrence (min (id, pos) — deterministic, engine-independent)
    * and delete the covered tokens of every other occurrence. Runs of
    * duplicated text longer than `window` dissolve naturally: each of
    * their sliding windows is itself a duplicate, and removal is the
    * UNION of covered token indices. Returns (idCol, clean_text,
    * n_tokens, n_removed); `clean_text` is the surviving tokens joined
    * by single spaces (whitespace canonicalized — for all docs, so the
    * output column is uniform), sub-window docs pass through untouched.
    *
    * Matching is case-SENSITIVE verbatim (unlike the case-folded stats
    * op: a detector wants recall, a destructive rewrite must not merge
    * text that differs by case).
    *
    * 100 TB shape: same skew-tolerant skeleton as the stats op — span
    * fps with positions (scan-local), ONE hash agg per fp carrying
    * (count, min-occurrence) with map-side combine, an AQE-splittable
    * spans⋈agg join, and two near-unique-key per-doc rollups. Only md5
    * strings and integer positions shuffle; text is touched exactly
    * twice (span build, final reassembly).
    */
  def dropDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 50): DataFrame = {
    require(window > 0, s"window must be positive, got $window")
    val base = spread(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), TextOps.tokens(col(textCol)).as("_toks"))
    // (id, pos, fp) for every window position; pos is 1-based
    val occ = base.select(col(idCol),
        explode(when(size(col("_toks")) >= window,
          transform(sequence(lit(1), size(col("_toks")) - lit(window - 1)),
            p => struct(p.as("pos"),
              md5(concat_ws(" ", slice(col("_toks"), p, lit(window)))).as("fp"))))
          .otherwise(array())).as("o"))
      .select(col(idCol), col("o.pos").as("pos"), col("o.fp").as("fp"))
    val agg = occ.groupBy(col("fp"))
      .agg(count(lit(1)).as("_cnt"),
        min(struct(col(idCol), col("pos"))).as("_keep"))
      .where(col("_cnt") > 1)
    // non-keeper occurrences of duplicated fps → union of covered indices
    val covered = occ.join(agg, Seq("fp"))
      .where(col(idCol) =!= col(s"_keep.$idCol") || col("pos") =!= col("_keep.pos"))
      .select(col(idCol), explode(sequence(col("pos"), col("pos") + lit(window - 1))).as("ti"))
      .groupBy(col(idCol)).agg(collect_set(col("ti")).as("_cov"))
    base.join(covered, Seq(idCol), "left_outer")
      .select(col(idCol),
        array_join(when(col("_cov").isNull, col("_toks"))
          .otherwise(filter(col("_toks"),
            (t, i) => !array_contains(col("_cov"), i + 1))), " ").as("clean_text"),
        size(col("_toks")).cast("long").as("n_tokens"),
        coalesce(size(col("_cov")), lit(0)).cast("long").as("n_removed"))
  }

  /** Exact-substring DECONTAMINATION — the span-granularity counterpart
    * of [[contaminatedDocs]] (Lee et al. 2022 applied to eval leakage):
    * delete from every corpus document ALL tokens covered by a
    * `window`-token span that appears verbatim in the benchmark set. No
    * keeper exists here — benchmark text must not survive anywhere, which
    * is exactly where this differs from [[dropDuplicateSpans]] (whose
    * first occurrence legitimately stays). Longer shared runs dissolve as
    * the union of their sliding windows; matching is case-SENSITIVE
    * verbatim ([[dropDuplicateSpans]]' destructive-rewrite discipline).
    * Returns (idCol, clean_text, n_tokens, n_removed); sub-window docs
    * pass through untouched, `clean_text` joins surviving tokens with
    * single spaces (uniform whitespace canonicalization, as in
    * [[dropDuplicateSpans]]).
    *
    * Versus [[contaminatedDocs]]: that op FLAGS documents by case-folded
    * shingle overlap (recall-oriented detection, doc granularity); this
    * op REWRITES them, excising only the leaked spans — the right tool
    * when a document is fine except for an embedded benchmark quote.
    *
    * 100 TB shape: benchmark sets are tiny, so their distinct span-fp set
    * BROADCASTS and the corpus-side check is a broadcast left-semi join —
    * no corpus shuffle at all before the per-doc covered-index rollup and
    * reassembly, both keyed on near-unique ids. Only md5 strings and
    * integer positions move; corpus text is touched exactly twice (span
    * build, reassembly).
    */
  def dropContaminatedSpans(docs: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, window: Int = 50): DataFrame = {
    require(window > 0, s"window must be positive, got $window")
    val base = spread(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), TextOps.tokens(col(textCol)).as("_toks"))
    val benchFps = bench
      .select(TextOps.tokens(col(textCol)).as("_toks"))
      .select(explode(when(size(col("_toks")) >= window,
        transform(sequence(lit(1), size(col("_toks")) - lit(window - 1)),
          p => md5(concat_ws(" ", slice(col("_toks"), p, lit(window))))))
        .otherwise(array())).as("fp"))
      .distinct()
    val occ = base.select(col(idCol),
        explode(when(size(col("_toks")) >= window,
          transform(sequence(lit(1), size(col("_toks")) - lit(window - 1)),
            p => struct(p.as("pos"),
              md5(concat_ws(" ", slice(col("_toks"), p, lit(window)))).as("fp"))))
          .otherwise(array())).as("o"))
      .select(col(idCol), col("o.pos").as("pos"), col("o.fp").as("fp"))
    val covered = occ.join(broadcast(benchFps), Seq("fp"), "left_semi")
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + lit(window - 1))).as("ti"))
      .groupBy(col(idCol)).agg(collect_set(col("ti")).as("_cov"))
    base.join(covered, Seq(idCol), "left_outer")
      .select(col(idCol),
        array_join(when(col("_cov").isNull, col("_toks"))
          .otherwise(filter(col("_toks"),
            (t, i) => !array_contains(col("_cov"), i + 1))), " ").as("clean_text"),
        size(col("_toks")).cast("long").as("n_tokens"),
        coalesce(size(col("_cov")), lit(0)).cast("long").as("n_removed"))
  }

  /** Keep-one policy over exact groups: retain min id per fingerprint. */
  def dedupedCorpus(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(TextOps.normFingerprint(col(textCol)))
      .orderBy(col(idCol))
    docs.withColumn("rn", row_number().over(w)).where(col("rn") === 1).drop("rn")
  }

  /** Snapshot-incremental exact dedup — the daily-ingest pattern: a new
    * batch arrives, everything already in the accumulated corpus must not
    * re-enter, and the batch must also dedup against itself. `ledger` is
    * the corpus fingerprint set so far (one `fp` column — ids and text
    * stay in the corpus tables; the ledger is the only thing the join
    * touches). Returns the kept incoming rows with their `fp`, so the
    * caller appends exactly that projection to the ledger for the next
    * batch — making the operator its own successor.
    *
    * 100 TB shape: within-batch dedup is the q05 hash-agg window (keys =
    * batch fingerprints); the ledger check is ONE shuffle-on-fp anti-join
    * where only md5 strings travel — never document text. Bucket the
    * ledger table by `fp` and the join plans shuffle-one-side against
    * each day's (much smaller) batch.
    */
  def incrementalDedup(incoming: DataFrame, ledger: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(col("fp")).orderBy(col(idCol))
    incoming
      .withColumn("fp", TextOps.normFingerprint(col(textCol)))
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1).drop("rn")
      .join(ledger.select(col("fp")), Seq("fp"), "left_anti")
  }

  /** Distinct MinHash band-bucket set of a corpus — the NEAR-DUP ledger
    * state, the LSH analog of [[incrementalDedup]]'s fingerprint ledger.
    * One `(band, bucket)` row per occupied bucket; ids and text never
    * enter, so the ledger stays a small fraction of the corpus and is
    * MERGE-maintainable: the ledger of A∪B is the distinct union of the
    * two ledgers (set union is the idempotent-commutative monoid here,
    * exactly as counts were for [[graft.ops.TrainPrepOps
    * .mergeVocabCounts]]).
    *
    * 100 TB shape: [[minhashBands]]'s map-side-combined minima agg plus
    * one distinct on the short (band, bucket) key; at scale the stored
    * ledger table is bucketed by (band, bucket) so batch lookups
    * ([[incrementalNearDup]]) shuffle only the (much smaller) batch side.
    */
  def bandLedger(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, bands: Int = 4, rowsPerBand: Int = 2): DataFrame =
    minhashBands(docs, idCol, textCol, shingleK, bands, rowsPerBand)
      .select(col("band"), col("bucket")).distinct()

  /** Snapshot-incremental NEAR-dup screening — the daily-ingest pattern at
    * LSH granularity: a new batch arrives and each document is scored
    * against the accumulated corpus WITHOUT rescanning it, via the
    * [[bandLedger]] bucket set. Returns one row per incoming document:
    * `n_ledger_bands` = how many of its `bands` band buckets already exist
    * in the ledger (0 = no near-dup evidence; = `bands` = almost certainly
    * a near-dup of something already ingested), and `prior_id` = the
    * smallest EARLIER id in the same batch sharing any bucket (null if
    * none) — so a caller can both screen against history and dedup the
    * batch against itself with the usual min-id keeper, then append the
    * batch's [[bandLedger]] to the stored ledger (the operator is its own
    * successor, like [[incrementalDedup]]). Collision semantics are
    * EXACTLY [[minhashCandidatePairs]]'s: same shingle family, same band
    * buckets — this is that operator split across a snapshot boundary.
    * Documents with fewer than `shingleK` tokens have no shingles and
    * report (0, null).
    *
    * 100 TB shape: the batch side is a day's ingest — small — so its band
    * table builds with one map-side-combined agg; the ledger probe is an
    * equi-join on the short (band, bucket) key against the bucketed ledger
    * (only the batch side shuffles); the within-batch self-join is
    * batch-sized. Only band buckets travel — never text, never corpus
    * rows.
    */
  def incrementalNearDup(incoming: DataFrame, ledger: DataFrame,
      idCol: String, textCol: String, shingleK: Int = 3, bands: Int = 4,
      rowsPerBand: Int = 2): DataFrame = {
    val bb = cacheUntilConsumed(
      minhashBands(incoming, idCol, textCol, shingleK, bands, rowsPerBand))
    val hits = bb
      .join(ledger.select(col("band"), col("bucket")), Seq("band", "bucket"),
        "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("_nl"))
    val prior = bb.select(col(idCol).as("_ida"), col("band"), col("bucket"))
      .join(bb.select(col(idCol).as("_idb"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .where(col("_idb") < col("_ida"))
      .groupBy(col("_ida")).agg(min(col("_idb")).as("prior_id"))
      .withColumnRenamed("_ida", idCol)
    incoming.select(col(idCol))
      .join(hits, Seq(idCol), "left_outer")
      .join(prior, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("_nl"), lit(0L)).as("n_ledger_bands"), col("prior_id"))
  }

  /** Per-BENCHMARK-doc contamination audit — the report a pipeline owner
    * reads before trusting an eval number: for each benchmark document,
    * how many of its `window`-token spans exist verbatim anywhere in the
    * corpus (`n_leaked_spans` of `n_spans`) and how many distinct corpus
    * documents carry at least one of them (`n_corpus_docs`). The
    * per-benchmark-doc view of what [[contaminatedDocs]] (per-corpus-doc
    * flags) and [[dropContaminatedSpans]] (the acting rewrite) see; span
    * identity is the SAME case-sensitive window fingerprint as the acting
    * op, so "report says clean" and "rewrite removes nothing" agree
    * exactly. Benchmark docs shorter than `window` tokens report
    * (0, 0, 0), not a dropped row.
    *
    * 100 TB shape: benchmark span fps (tiny) BROADCAST; the corpus streams
    * its spans through one broadcast hash join — no corpus shuffle. The
    * two rollups (leaked spans, touched corpus docs) aggregate the
    * hit stream — corpus-span hits on benchmark text, a vanishing
    * fraction of the corpus — on near-unique pair keys with map-side
    * partial distinct, then join back to the benchmark-sized span counts.
    */
  def contaminationReport(docs: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, window: Int = 50): DataFrame = {
    require(window > 0, s"window must be positive, got $window")
    // distinct window-span fps per doc, id aliased so the two sides of the
    // fp join never collide
    def spansOf(df: DataFrame, idAlias: String): DataFrame = {
      val fps = when(size(col("_toks")) >= window,
        transform(sequence(lit(1), size(col("_toks")) - lit(window - 1)),
          p => md5(concat_ws(" ", slice(col("_toks"), p, lit(window))))))
        .otherwise(array())
      df.select(col(idCol).as(idAlias), TextOps.tokens(col(textCol)).as("_toks"))
        .select(col(idAlias), explode(array_distinct(fps)).as("fp"))
    }
    val bSpans = cacheUntilConsumed(spansOf(bench, "_bid"))
    val cOcc = spansOf(docs, "_cid")
    val joined = cOcc.join(broadcast(bSpans), Seq("fp"))
    val leaked = joined.select(col("_bid"), col("fp")).distinct()
      .groupBy(col("_bid")).agg(count(lit(1)).as("_nleak"))
    val touched = joined.select(col("_bid"), col("_cid")).distinct()
      .groupBy(col("_bid")).agg(count(lit(1)).as("_ndocs"))
    val counts = bSpans.groupBy(col("_bid")).agg(count(lit(1)).as("_nsp"))
      .withColumnRenamed("_bid", idCol)
    bench.select(col(idCol))
      .join(counts, Seq(idCol), "left_outer")
      .join(leaked.withColumnRenamed("_bid", idCol), Seq(idCol), "left_outer")
      .join(touched.withColumnRenamed("_bid", idCol), Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("_nsp"), lit(0L)).as("n_spans"),
        coalesce(col("_nleak"), lit(0L)).as("n_leaked_spans"),
        coalesce(col("_ndocs"), lit(0L)).as("n_corpus_docs"))
  }

  // ------------------------------------ exact set-similarity (prefix filter)

  /** EXACT shingle-set-similarity self-join with prefix filtering — every
    * pair with Jaccard ≥ `jacMill`/1000, no MinHash recall loss (the
    * AllPairs/PPJoin principle: Bayardo et al. WWW'07, Xiao et al.
    * WWW'08). Where [[minhashCandidatePairs]] trades recall for speed,
    * this keeps recall 1 and prunes with a THEOREM instead: order every
    * doc's shingles by ascending corpus frequency (rarest first, ties
    * lexicographic — a deterministic total order both engines replay),
    * and two sets with Jaccard ≥ t MUST share a token inside their
    * (n − ceil(t·n) + 1)-prefixes. Only prefix tokens join; a stopword
    * shingle shared by half the corpus sits in every doc's SUFFIX and
    * never generates a candidate pair.
    *
    * Stages (all relational, one Catalyst plan):
    *   1. distinct (id, shingle), set sizes, shingle document frequency;
    *   2. position = row_number per doc ordered (df asc, shingle asc);
    *      prefix = positions ≤ n − ceil(t·n) + 1;
    *   3. candidates = prefix ⋈ prefix on the shingle (id_a < id_b), plus
    *      the length filter 1000·min(n_a,n_b) ≥ t·1000·max(n_a,n_b)
    *      (J ≥ t forces size compatibility), dedup'd;
    *   4. exact verify via [[ngramJaccardForPairs]] (candidate ids
    *      broadcast; only candidate docs' shingles rematerialize), keep
    *      1000·inter ≥ t·union.
    *
    * Output: (id_a, id_b, n_inter, n_union, jac_mill) — integers only.
    *
    * 100 TB shape: the df agg and the position window shuffle on the
    * shingle / the doc id respectively (both map-side combinable or
    * near-unique); the candidate join keys are by construction the RARE
    * shingles, so the classic hot-token quadratic blowup of the naive
    * shingle self-join ([[ngramJaccardPairs]]'s documented weakness)
    * cannot occur at any threshold; candidates (a tiny fraction of pairs)
    * broadcast into the verify.
    */
  def setSimJoinPrefix(docs: DataFrame, idCol: String, textCol: String,
      jacMill: Long = 500L, shingleK: Int = 3): DataFrame = {
    require(jacMill >= 1 && jacMill <= 1000,
      "setSimJoinPrefix: jacMill in [1, 1000]")
    // r6 shape, three changes to the original formulation:
    //
    //   1. `n` (the distinct-shingle set size) rides out of the explode as
    //      a row-local `size()` of the per-row set array — counting it
    //      again with a second window pass over the exploded rows was a
    //      whole extra sort per self-join side.
    //      The explode input is then a materialized ATTRIBUTE, which makes
    //      it subject to InferFiltersFromGenerate: with a plain `explode`
    //      the optimizer infers `size(_shs) > 0` and pushes the FULL
    //      shingle pipeline below the spread exchange as a scan-side
    //      filter (measured: 2 × 5 s single-task stages at sf0.1 — the
    //      corpus shingled twice on one core). `explode_outer` is exempt
    //      from that rule; the cheap token-count gate makes outer ≡ inner
    //      exactly (tokens >= k ⟺ the distinct set is non-empty), so no
    //      null-sh rows exist and row semantics are unchanged.
    //   2. the candidate build keeps each match's PREFIX POSITIONS and
    //      applies PPJoin's positional filter (Xiao et al. WWW'08 §3.2):
    //      shingle orderings are consistent across docs, so the first
    //      shared prefix token — the one at (min x.pos, min y.pos), which
    //      belong to the SAME token — bounds the overlap by
    //      `1 + min(nx − i1, ny − j1)`; J ≥ t ⟺ inter·(1000+t·1000) ≥
    //      t·1000·(nx+ny), so a pair whose bound fails that inequality is
    //      pruned BEFORE the exact verify with the output provably
    //      unchanged (it would have failed the final Jaccard gate). The
    //      dedup that `distinct()` did is now the groupBy itself — same
    //      shuffle, strictly more pruning. The r6 span profile put 70 s of
    //      task CPU (the whole query's largest span) in the verify's
    //      pair×shingle expansion; the positional filter shrinks exactly
    //      that input.
    //   3. measured non-changes, documented so they aren't retried:
    //      caching `ex`/`prefix` (cacheUntilConsumed) to share the
    //      twice-consumed subtrees made the query SLOWER at sf0.1
    //      (7–8 s vs 6.5 s: IMR build + scan overhead and lost AQE
    //      flexibility outweigh the saved recompute; driver planning gaps
    //      appeared between cached stages), so the subtrees stay inline.
    val ex = spread(docs
        .select(col(idCol).as("id"), col(textCol).as("_t"))
        .where(size(TextOps.tokens(col("_t"))) >= shingleK))
      .select(col("id"),
        array_distinct(TextOps.shingles(col("_t"), shingleK)).as("_shs"))
      .select(col("id"), size(col("_shs")).cast("long").as("n"),
        explode_outer(col("_shs")).as("sh"))
    val dfreq = ex.groupBy("sh").agg(count(lit(1)).as("sdf"))
    val byDoc = Window.partitionBy("id").orderBy(col("sdf").asc, col("sh").asc)
    val pos = ex.join(dfreq, "sh")
      .withColumn("pos", row_number().over(byDoc))
    // prefix length n − ceil(t·n) + 1; ceil(t·n) = (jacMill·n + 999) div 1000
    val prefix = pos
      .where(col("pos") <= col("n") -
        expr(s"($jacMill * n + 999) div 1000") + lit(1))
      .select(col("id"), col("sh"), col("n"), col("pos"))
    val cand = prefix.as("x").join(prefix.as("y"),
        col("x.sh") === col("y.sh") && col("x.id") < col("y.id") &&
          col("y.n") * 1000 >= lit(jacMill) * col("x.n") &&
          col("x.n") * 1000 >= lit(jacMill) * col("y.n"))
      .groupBy(col("x.id").as("id_a"), col("x.n").as("_na"),
        col("y.id").as("id_b"), col("y.n").as("_nb"))
      .agg(min(col("x.pos")).as("_i1"), min(col("y.pos")).as("_j1"))
      // PPJoin positional filter: overlap ≤ 1 + min(nx − i1, ny − j1)
      .where((lit(1L) + least(col("_na") - col("_i1"), col("_nb") - col("_j1")))
        * lit(1000L + jacMill) >= lit(jacMill) * (col("_na") + col("_nb")))
      .select(col("id_a"), col("id_b"))
    ngramJaccardForPairs(docs, cand, idCol, textCol, shingleK)
      .where(col("n_inter") * 1000 >= lit(jacMill) * col("n_union"))
      .select(col("id_a"), col("id_b"), col("n_inter"), col("n_union"),
        expr("n_inter * 1000 div n_union").as("jac_mill"))
  }
}
