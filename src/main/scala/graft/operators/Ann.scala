package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Cosine runs through the native codegen'd
  * [[graft.plans.CosineSimilarity]] expression (via the registered
  * `graft_cosine` SQL function). Scores are quantized to 1e-6 ticks with
  * ties broken by id, making rank output engine-portable.
  *
  * Scale posture: the query set and the centroid codebook are broadcast
  * (both tiny by construction); the corpus — the 100 TB side — only
  * streams: brute force is one scan with no shuffle before the per-query
  * top-k, IVF prunes that scan to the probed cells first.
  */
object Ann {

  /** Quantized cosine via the codegen expression (see Similarity.cosineQ). */
  private def cosQ(a: Column, b: Column): Column =
    floor(call_function("graft_cosine", a, b) * lit(1000000.0)).cast("long")

  /** Brute-force exact top-k: corpus ⨯ broadcast(queries), ranked per
    * query. The rank window partitions by query id — with many queries
    * this parallelizes naturally; WindowGroupLimit bounds each partition
    * to k rows before the sort. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val scored = corpus.join(broadcast(queries))
      .select(col("query_id"), col("corpus_id"),
        cosQ(col("qe"), col("ce")).as("score_q"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_q").desc, col("corpus_id").asc)
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** k-NN majority-label classification: for each query, the exact
    * top-k by quantized cosine (identical rank semantics to
    * [[bruteForceTopK]]: score desc, corpus_id asc), then a majority
    * vote over the neighbors' labels — vote ties broken by the SMALLEST
    * label, so the prediction is engine-portable integer arithmetic end
    * to end. Returns (query_id, pred_label, votes).
    *
    * Scale shape: the corpus streams once against the broadcast query
    * set (labels ride the scan — no label join-back); everything after
    * the per-query top-k window is queries×k-sized, so the vote
    * aggregations cost nothing at any corpus scale. The argmax is a
    * max-struct (votes, −label) — one aggregate, no second window. */
  def knnLabel(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val scored = corpus.join(broadcast(queries))
      .select(col("query_id"), col("corpus_id"), col("label"),
        cosQ(col("qe"), col("ce")).as("score_q"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_q").desc, col("corpus_id").asc)
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("votes"))
      .groupBy(col("query_id"))
      .agg(max(struct(col("votes"), (-col("label")).as("nl"))).as("m"))
      .select(col("query_id"), (-col("m.nl")).cast("int").as("pred_label"),
        col("m.votes").as("votes"))
  }

  /** Per-cell mean centroids ("trained" coarse quantizer — the given
    * cell assignment plays the role of a k-means codebook). Means are
    * exact DECIMAL(27,10) arithmetic per dimension so centroid doubles
    * are independent of aggregation order; since r18 the decimal runs
    * as BIGINT tick sums ([[graft.plans.DecTicks]]: 21-bit-split
    * unscaled sums, exact for ≤2^42 rows per cell — far beyond any
    * training sample — recombined per GROUP by
    * [[graft.plans.TicksMeanDouble]], bit-identical by construction
    * and property-proven against the decimal-cast chain). The measured
    * win: the old per-row×dim `cast(double as decimal(27,10))` bottomed
    * out in Double.toString → BigDecimal parse plus a non-compact
    * Decimal buffer rewrite per update. The `dim` per-dimension means
    * stay parallel aggregates in ONE groupBy(cell) — a posexplode would
    * 64× the corpus and add a (cell, pos) shuffle before the per-cell
    * one. */
  def centroids(corpus: DataFrame, dim: Int = 64): DataFrame = {
    val aggs = tickSumCols(i => element_at(col("ce"), i + 1), dim) :+
      count(lit(1)).as("_tn")
    corpus
      .groupBy(col("cell"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("cell"),
        array((0 until dim).map(i => tickMean(i, col("_tn"))): _*).as("ce"))
  }

  private val TickM21 = (1L << 21) - 1

  /** The three split-tick BIGINT sums per dimension lane (see
    * [[centroids]]); `elem(i)` supplies the lane's double. */
  private def tickSumCols(elem: Int => Column, dim: Int): Seq[Column] =
    (0 until dim).flatMap { i =>
      val t = call_function("graft_dec_ticks", elem(i).cast("double"))
      Seq(sum(shiftright(t, 42)).as(s"_ts0_$i"),
        sum(shiftright(t, 21).bitwiseAND(lit(TickM21))).as(s"_ts1_$i"),
        sum(t.bitwiseAND(lit(TickM21))).as(s"_ts2_$i"))
    }

  private def tickMean(i: Int, n: Column): Column =
    call_function("graft_ticks_mean",
      col(s"_ts0_$i"), col(s"_ts1_$i"), col(s"_ts2_$i"), n)

  /** IVF-style ANN: probe the nearest `nprobe` centroid cells only, then
    * exact top-k within the probed cells. The centroid table (cells ×
    * dim doubles) is broadcast; the corpus is pruned by cell via an
    * equi-join on the cell id — at scale this is the difference between
    * scanning 100 TB and scanning 100 TB / n_cells × nprobe.
    *
    * Recomputes the codebook from the corpus — fine for a one-shot
    * exploration; a serving deployment builds the index ONCE with
    * [[buildIndex]] and queries it with [[searchIndex]]. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int, nprobe: Int,
      dim: Int = 64): DataFrame =
    ivfTopKWith(centroids(corpus, dim), queries, corpus, k, nprobe)

  /** IVF search against a given codebook (no centroid computation in the
    * query path). */
  def ivfTopKWith(cents: DataFrame, queries: DataFrame, corpus: DataFrame,
      k: Int, nprobe: Int): DataFrame = {
    val probed = queries.join(broadcast(cents))
      .select(col("query_id"), col("qe"), col("cell"),
        cosQ(col("qe"), col("ce")).as("cscore"))
      .withColumn("crnk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cscore").desc, col("cell").asc)))
      .filter(col("crnk") <= nprobe)
      .select(col("query_id"), col("qe"), col("cell"))
    val scored = corpus.join(broadcast(probed), Seq("cell"))
      .select(col("query_id"), col("cell"), col("corpus_id"),
        cosQ(col("qe"), col("ce")).as("score_q"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_q").desc, col("corpus_id").asc)
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** Build the PERSISTENT IVF index under `dir`: the centroid codebook
    * as parquet plus the corpus partitioned BY CELL. At 100 TB the
    * centroid computation is a full-corpus scan — it belongs at
    * index-build time, once; a query batch that recomputes it pays that
    * scan per lookup. Cell-partitioning the corpus turns the probe
    * equi-join into directory-level dynamic partition pruning: a query
    * batch reads only the probed cells' files, never the whole corpus. */
  def buildIndex(corpus: DataFrame, dir: String, dim: Int = 64): Unit = {
    // a rebuild must start from an empty tree (the writePositionalIndex
    // discipline): partitionOverwriteMode=dynamic only replaces `cell=`
    // directories present in the NEW corpus, so leftover files from a
    // crashed append/write in an untouched cell would survive and serve
    graft.sources.Fs.delete(dir)
    centroids(corpus, dim).write.mode("overwrite").parquet(s"$dir/codebook")
    corpus.write.mode("overwrite").partitionBy("cell").parquet(s"$dir/cells")
  }

  /** IVF search against a [[buildIndex]]-persisted index: the query path
    * scans only the (tiny) codebook and the probed cells — asserted in
    * PlanSpec (no aggregate anywhere; a dynamic-pruning partition filter
    * on the cells scan). */
  def searchIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val cents = spark.read.parquet(s"$dir/codebook")
    val cells = spark.read.parquet(s"$dir/cells")
      .select(col("cell"), col("corpus_id"), col("ce"))
    ivfTopKWith(cents, queries, cells, k, nprobe)
  }

  /** Nearest-centroid assignment: every corpus vector gets the cell of
    * its max-quantized-cosine centroid (ties break toward the lower cell
    * id, so the argmax is total and engine-portable).
    *
    * ZERO corpus exchange: the codebook collapses to ONE broadcast
    * array row (cell-ascending), and the argmax is a row-local fold
    * over it — each candidate scored by the codegen'd graft_cosine
    * eval, replaced only on a STRICTLY greater score, so cell-ascending
    * iteration keeps the lowest cell on ties. The earlier formulation
    * ranked a corpus×k fan-out through a corpus_id window — a shuffle
    * of k copies of every vector per training iteration; the fold
    * assigns at scan speed, which is what lets [[kmeansCodebook]]'s
    * per-iteration network cost be the KB-sized centroid aggregate
    * alone. A vector whose every cosine is NULL (zero-norm) keeps the
    * first (lowest) cell with a NULL cscore — the exact tie/null order
    * the window produced, property-pinned by the unchanged oracles. */
  def assignCells(cents: DataFrame, corpus: DataFrame): DataFrame = {
    val packed = cents.agg(
      sort_array(collect_list(struct(col("cell").cast("int").as("cell"),
        col("ce")))).as("_cents"))
    corpus.join(broadcast(packed))
      .withColumn("_best",
        aggregate(col("_cents"),
          struct(lit(null).cast("long").as("cscore"), lit(null).cast("int").as("cell")),
          (acc, x) => {
            val s = cosQ(col("ce"), x.getField("ce"))
            val take = struct(s.as("cscore"), x.getField("cell").cast("int").as("cell"))
            // take the first candidate unconditionally, then replace only
            // on a defined, strictly greater score — null scores can
            // never displace, and a leading null is displaced by any
            // defined score (the window's NULLS LAST order)
            when(acc.getField("cell").isNull, take)
              .when(s.isNotNull &&
                (acc.getField("cscore").isNull || s > acc.getField("cscore")), take)
              .otherwise(acc)
          }))
      .select(col("corpus_id"), col("ce"),
        col("_best.cell").as("cell"), col("_best.cscore").as("cscore"))
  }

  /** Top-2 nearest-centroid assignment (r15) — [[assignCells]]' two-slot
    * sibling for CANDIDATE GENERATION: every corpus vector gets its two
    * best cells as (cell, rk ∈ {1, 2}) rows, exactly the rows
    * `ROW_NUMBER() OVER (PARTITION BY vector ORDER BY score DESC NULLS
    * LAST, cell ASC) <= 2` would rank. The nprobe=2 idea the IVF search
    * path already uses (q_sim_ivf_probe2) applied to the ASSIGNMENT
    * side: SemDeDup's cross-cell miss class is pairs split across a
    * cell boundary, and giving each vector its runner-up cell makes any
    * pair whose members rank each other's cells top-2 co-bucketed.
    *
    * Same ZERO-corpus-exchange shape as [[assignCells]]: the codebook
    * broadcasts as one packed array row and a row-local fold carries
    * BOTH slots — a candidate displacing the best demotes it to second,
    * a candidate beating only the second replaces the second; replace
    * strictly-greater-only keeps the lower cell on ties, null scores
    * rank after all defined ones (among themselves by cell — the
    * window's NULLS LAST order), and a k=1 codebook yields one row.
    * The 2× output is explode fan-out, not a shuffle. */
  def assignCellsTop2(cents: DataFrame, corpus: DataFrame): DataFrame = {
    val packed = cents.agg(
      sort_array(collect_list(struct(col("cell").cast("int").as("cell"),
        col("ce")))).as("_cents"))
    def emptySlot = struct(lit(null).cast("long").as("cscore"),
      lit(null).cast("int").as("cell"))
    corpus.join(broadcast(packed))
      .withColumn("_best2",
        aggregate(col("_cents"),
          struct(emptySlot.as("b1"), emptySlot.as("b2")),
          (acc, x) => {
            val s = cosQ(col("ce"), x.getField("ce"))
            val cand = struct(s.as("cscore"),
              x.getField("cell").cast("int").as("cell"))
            // "cand outranks slot" in (score DESC NULLS LAST, cell ASC)
            // order, iterating cells ascending: an empty slot is always
            // outranked; otherwise only a defined score can displace,
            // and only strictly greater (or slot-null) — ties keep the
            // earlier (lower) cell, exactly ROW_NUMBER's order
            def outranks(slot: Column) = slot.getField("cell").isNull ||
              (s.isNotNull &&
                (slot.getField("cscore").isNull || s > slot.getField("cscore")))
            when(outranks(acc.getField("b1")),
                struct(cand.as("b1"), acc.getField("b1").as("b2")))
              .when(outranks(acc.getField("b2")),
                struct(acc.getField("b1").as("b1"), cand.as("b2")))
              .otherwise(acc)
          }))
      .select(col("corpus_id"), col("ce"),
        posexplode(filter(
          array(col("_best2.b1"), col("_best2.b2")),
          slot => slot.getField("cell").isNotNull)).as(Seq("_p", "_slot")))
      .select(col("corpus_id"), col("ce"),
        col("_slot.cell").as("cell"), col("_slot.cscore").as("cscore"),
        (col("_p") + 1).cast("int").as("rk"))
  }

  /** Distributed spherical k-means — the TRAINED coarse quantizer the
    * IVF path deserves (the [[centroids]] overload above inherits a
    * given cell assignment; this one learns it from the vectors alone).
    *
    * Lloyd's iterations, Spark-shaped: per iteration the KB-sized
    * codebook broadcasts, assignment is a scan-speed argmax
    * ([[assignCells]]), and the update is ONE map-side-combined
    * groupBy(cell) whose state is k×dim DECIMAL partials — the corpus
    * crosses the network zero times per iteration. With cosine
    * assignment the per-cell MEAN is the exact maximizer of the
    * spherical objective Σ cos(x, c_cell) (the mean is parallel to Σx,
    * and cos(x, ·) is scale-invariant), so the objective is monotone
    * non-decreasing per iteration — property-tested in LlmOpsSpec.
    *
    * Engine-portable by construction, the same way the rest of the ANN
    * tier is: init picks the k corpus vectors with the smallest salted
    * md5(id) via a distributed TakeOrdered (`orderBy.limit(k)` — no
    * global sort task), assignment compares 1e-6-quantized cosines with
    * id ties, and centroid means accumulate in DECIMAL(27,10) so the
    * resulting doubles are independent of partition order — the DuckDB
    * oracle unrolls the same iterations and hash-matches. A cell that
    * loses all members drops out of the codebook (k shrinks), exactly
    * as the SQL twin's GROUP BY does.
    *
    * At 100 TB: train on an md5-coin sample (the caller composes
    * [[graft.operators.Sampling.stratifiedSample]] upstream — rate
    * choice is corpus-dependent), then run the final [[assignCells]]
    * pass over the full corpus; each training iteration costs one
    * sample scan + one k×dim aggregate. */
  def kmeansCodebook(corpus: DataFrame, k: Int, iters: Int, dim: Int = 64,
      seed: String = "km"): DataFrame = {
    require(k > 0 && iters >= 0, s"kmeansCodebook: k=$k iters=$iters")
    val hash = md5(concat(lit(seed + "|"), col("corpus_id").cast("string")))
    // TakeOrderedAndProject (k rows per partition, merged on the driver
    // side of the exchange) — the init never global-sorts the corpus.
    val seeds = corpus
      .select(hash.as("_h"), col("corpus_id"), col("ce"))
      .orderBy(col("_h"), col("corpus_id")).limit(k)
    // the rank window runs over exactly k rows (post-limit), so the
    // single-partition window is k-sized, not corpus-sized
    var cents = seeds
      .select((row_number().over(Window.orderBy(col("_h"), col("corpus_id"))) - 1)
          .cast("int").as("cell"),
        col("ce").cast("array<double>").as("ce"))
    for (_ <- 1 to iters)
      cents = centroids(
        assignCells(cents, corpus).select(col("cell"), col("corpus_id"), col("ce")),
        dim)
    cents
  }

  // ---- product quantization: 8-byte codes + codegen ADC search -------------
  //
  // The memory rung below IVF: IVF prunes WHICH vectors a query scans,
  // PQ shrinks WHAT the scan reads — each corpus vector is re-encoded as
  // m 4-bit cell ids (dim=64 → one packed BIGINT vs 256 bytes of floats,
  // 32×), and search reads ONLY the codes: per query a lookup table of
  // subspace distances to every cell is built once (m×16 entries), and
  // each candidate costs m integer lookups through the codegen'd
  // graft_pq_adc expression. At 100 TB the codes table is ~3 TB and the
  // raw vectors never enter the search plan; compose with IVF cells for
  // the standard IVF-PQ serving layout.
  //
  // Engine-portable like the rest of the tier: subspace distances are
  // per-term-floored integer sums (Σ_i ⌊(a_i−b_i)²·1e6⌋ — order-free),
  // codebook training is deterministic hash-seeded Lloyd's with the same
  // DECIMAL(27,10) means as [[centroids]], and ties break by cell id,
  // so a SQL twin unrolling the same iterations hash-matches the codes,
  // the distances, and the final ranking bit-for-bit.

  /** 16 cells per subspace — one md5 hex digit seeds the initial
    * assignment, and codes pack to 4 bits per subspace. */
  val PqKsub = 16

  /** Quantized subspace L2 — per-term floor then BIGINT sum, so
    * accumulation order cannot matter; unrolled over the literal
    * subspace width so the whole term stays codegen'd arithmetic. */
  private def pqDq(a: Column, b: Column, sd: Int): Column =
    (1 to sd).map { i =>
      val d = element_at(a, i) - element_at(b, i)
      floor(d * d * lit(1000000.0)).cast("long")
    }.reduce(_ + _)

  /** (corpus_id, sub, sv): the corpus split into m row-local subvector
    * slices (double elements — float embeddings widen exactly). */
  private def pqSubvecs(corpus: DataFrame, m: Int, sd: Int): DataFrame =
    corpus
      .select(col("corpus_id"), col("ce").cast("array<double>").as("ce"))
      .select(col("corpus_id"), posexplode(
        expr(s"transform(sequence(0, ${m - 1}), s -> slice(ce, s*$sd+1, $sd))"))
        .as(Seq("sub", "sv")))

  /** Nearest cell per (vector, subspace) against a broadcast codebook —
    * a map-side-combined min(struct(d, cell)) per group, never a
    * window: the ×16 candidate rows collapse back to one row per
    * (vector, subspace) before the exchange. */
  private def pqAssign(cb: DataFrame, subvecs: DataFrame, sd: Int): DataFrame =
    subvecs.join(broadcast(cb), "sub")
      .groupBy(col("corpus_id"), col("sub"))
      .agg(min(struct(pqDq(col("sv"), col("sc"), sd).as("d"), col("cell"))).as("m"),
        first(col("sv")).as("sv"))
      .select(col("corpus_id"), col("sub"), col("m.cell").as("cell"),
        col("m.d").as("d"), col("sv"))

  /** Per-(sub, cell) DECIMAL(27,10) means — [[centroids]] keyed by
    * subspace (same BIGINT tick-sum form, same exactness argument); a
    * cell that loses every member drops out (codes never reference it,
    * search fills its lut slot with a sentinel). */
  private def pqMeans(assigned: DataFrame, sd: Int): DataFrame = {
    val aggs = tickSumCols(i => element_at(col("sv"), i + 1), sd) :+
      count(lit(1)).as("_tn")
    assigned.groupBy(col("sub"), col("cell"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("sub"), col("cell"),
        array((0 until sd).map(i => tickMean(i, col("_tn"))): _*).as("sc"))
  }

  /** Train the m per-subspace codebooks: deterministic md5-seeded
    * initial cells, `iters` Lloyd rounds. Per round the KB-sized
    * codebook broadcasts and the corpus pays one fixed-width
    * (corpus × m)-row exchange — at 100 TB, train on a sampled slice
    * (same guidance as [[kmeansCodebook]]) and encode the full corpus
    * once. Returns (sub, cell, sc). */
  def pqCodebook(corpus: DataFrame, iters: Int, dim: Int = 64, m: Int = 8,
      seed: String = "pq"): DataFrame = {
    require(dim % m == 0 && m >= 1, s"pqCodebook: dim=$dim not divisible into m=$m")
    require(4 * m <= 60, s"pqCodebook: m=$m codes overflow a packed BIGINT")
    val sd = dim / m
    val sv = pqSubvecs(corpus, m, sd)
    // first md5 hex nibble = top 4 bits of the string-free 60-bit
    // digest (bit-identical; plans/Md5Bits60Expr.scala)
    val init = sv.withColumn("cell",
      shiftright(call_function("graft_md5_60", lit(seed + "|"),
        concat(col("sub").cast("string"), lit("|"),
          col("corpus_id").cast("string"))), 56).cast("int"))
    var cb = pqMeans(init, sd)
    for (_ <- 1 to iters) cb = pqMeans(pqAssign(cb, sv, sd), sd)
    cb
  }

  /** Encode the corpus against a trained codebook: ONE exchange —
    * the m per-subspace argmins run as m conditional min-structs in a
    * single map-side-combined groupBy(corpus_id), and the packed BIGINT
    * code (subspace s in bits [4s, 4s+4)) comes out of the same
    * aggregate. Returns (corpus_id, code). */
  def pqEncode(cb: DataFrame, corpus: DataFrame, dim: Int = 64, m: Int = 8): DataFrame = {
    val sd = dim / m
    val scored = pqSubvecs(corpus, m, sd).join(broadcast(cb), "sub")
      .select(col("corpus_id"), col("sub"), col("cell"),
        pqDq(col("sv"), col("sc"), sd).as("d"))
    val mins = (0 until m).map(s =>
      min(when(col("sub") === s, struct(col("d"), col("cell")))).as(s"m$s"))
    scored.groupBy(col("corpus_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("corpus_id"),
        (0 until m).map(s =>
          expr(s"shiftleft(CAST(m$s.cell AS BIGINT), ${4 * s})"))
          .reduce(_ + _).as("code"))
  }

  /** Per-query dense `[sub·16 + cell]` ADC lookup table against a
    * trained codebook: dead cells (a cell that lost every member during
    * training — no code references it) hold a sentinel. Returns
    * (query_id, lut). */
  private def pqLut(cb: DataFrame, queries: DataFrame, sd: Int, m: Int): DataFrame = {
    val grid = queries
      .select(col("query_id"), col("qe").cast("array<double>").as("qe"))
      .withColumn("sub", explode(sequence(lit(0), lit(m - 1))))
      .withColumn("cell", explode(sequence(lit(0), lit(PqKsub - 1))))
      .withColumn("qsv", slice(col("qe"), col("sub") * sd + 1, lit(sd)))
    grid.join(broadcast(cb), Seq("sub", "cell"), "left")
      .withColumn("lq", when(col("sc").isNull, lit(Long.MaxValue / 4))
        .otherwise(pqDq(col("qsv"), col("sc"), sd)))
      .groupBy(col("query_id"))
      .agg(transform(
        sort_array(collect_list(struct(col("sub"), col("cell"), col("lq")))),
        x => x.getField("lq")).as("lut"))
  }

  /** ADC top-k over packed codes: per query one dense [sub·16 + cell]
    * lookup table (dead cells hold a sentinel no code references), the
    * codes table streams against the broadcast tables through the
    * codegen'd `graft_pq_adc` lookup sum, and the only exchange is the
    * per-query rank window — the [[bruteForceTopK]] shape with the
    * corpus scan 32× narrower. Returns (query_id, corpus_id, dist_q,
    * rnk); dist_q ascending (a DISTANCE, unlike the cosine scores). */
  def pqTopK(cb: DataFrame, codes: DataFrame, queries: DataFrame, k: Int,
      dim: Int = 64, m: Int = 8): DataFrame = {
    val scored = codes.join(broadcast(pqLut(cb, queries, dim / m, m)))
      .select(col("query_id"), col("corpus_id"),
        call_function("graft_pq_adc", col("code"), col("lut")).as("dist_q"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist_q").asc, col("corpus_id").asc)
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** IVF-PQ serving search — the composition the two rungs below it
    * exist for: the coarse IVF codebook prunes WHICH vectors a query
    * scans (probe the `nprobe` best cells only), the PQ codes shrink
    * WHAT the surviving scan reads (8-byte packed codes instead of
    * dim-wide vectors). `codes` is the composed index: (corpus_id,
    * cell, code) — [[pqEncode]] output joined with the coarse
    * [[assignCells]] assignment at index-build time, in deployment
    * persisted `partitionBy("cell")` exactly like [[buildIndex]] so the
    * probe's broadcast join prunes cell directories at the source.
    *
    * The query path joins the per-query probed-cell set WITH its ADC
    * lut (one tiny broadcast: nprobe rows per query, lut riding along),
    * so a code row is scored — by the codegen'd `graft_pq_adc` sum —
    * only when its cell is probed by that query; the per-query rank
    * window is the only exchange, asserted in PlanSpec. Returns
    * (query_id, cell, corpus_id, dist_q, rnk), dist_q ascending. */
  /** Persist the composed IVF-PQ index — [[buildIndex]]'s contract for
    * the quantized layout: the coarse codebook, the PQ codebook, and
    * the (corpus_id, code) table written `partitionBy("cell")` so a
    * probe's broadcast join prunes cell directories at the source.
    * Training runs HERE, once; [[searchIvfPqIndex]] never trains. */
  def buildIvfPqIndex(corpus: DataFrame, dir: String, kCells: Int,
      iters: Int, dim: Int = 64, m: Int = 8): Unit = {
    // a rebuild (retrain under keep-two lands HERE) must start from an
    // empty tree: GraftSession pins partitionOverwriteMode=dynamic, so
    // the codes overwrite below only replaces `cell=` directories
    // present in the new encoding — part-files a crashed
    // appendIvfPqIndex left in a cell the rebuild's data doesn't touch
    // would survive and get served (and re-appended). Deleting the
    // whole store (markers included) also closes the crash window: a
    // rebuild that dies mid-write leaves no stale coarse/_SUCCESS or
    // served-store marker claiming completeness.
    graft.sources.Fs.delete(dir)
    // the two trainings are independent and each is a chain of small
    // sequential jobs that leaves most cores idle — overlap them
    // (guide §2.6: submit independent jobs from separate threads; the
    // scheduler back-fills). localCheckpoint is eager, so running the
    // two checkpoints concurrently overlaps the full training chains;
    // results are deterministic either way (hash-seeded Lloyd's).
    val (coarse, pqCb) = trainBoth(
      kmeansCodebook(corpus, k = kCells, iters = iters, dim = dim),
      pqCodebook(corpus, iters = iters, dim = dim, m = m))
    pqEncode(pqCb, corpus, dim = dim, m = m)
      .join(assignCells(coarse, corpus).select(col("corpus_id"), col("cell")),
        "corpus_id")
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/codes")
    pqCb.write.mode("overwrite").parquet(s"$dir/pq")
    // written LAST: a partitionBy write leaves no _SUCCESS marker, so
    // coarse/_SUCCESS is the build-complete mark searchIvfPqIndex checks
    coarse.write.mode("overwrite").parquet(s"$dir/coarse")
  }

  /** Run two independent training chains concurrently and return both
    * as eager localCheckpoints — each chain is a sequence of small jobs
    * that cannot fill the cluster on its own, so the second chain
    * back-fills the first's idle capacity (guide §2.6). Used by the
    * IVF-PQ compositions, whose coarse and fine quantizers share no
    * state until the encode joins them. */
  private[graft] def trainBoth(a: DataFrame, b: DataFrame): (DataFrame, DataFrame) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fa = Future(a.localCheckpoint())
    val fb = Future(b.localCheckpoint())
    (Await.result(fa, Duration.Inf), Await.result(fb, Duration.Inf))
  }

  /** Append a DELTA of vectors to a [[buildIvfPqIndex]] store WITHOUT
    * retraining — the ANN family's maintenance arm (r17, the FAISS
    * add-with-trained-codebooks convention; the last standing artifact
    * family to get one after band/gram/LM/phrase/fuzzy): the delta is
    * PQ-encoded and cell-assigned with the STORED codebooks and its
    * codes land log-structured inside the existing `cell=` directories
    * (mode append — delta-sized write, the standing codes never
    * rewritten; the cell space is fixed by the stored coarse codebook,
    * so no append can create an unprunable directory, exactly the
    * phrase index's fixed-digest-space argument). Unlike the fuzzy
    * index there is NO stale-count hazard: the probe path carries no
    * per-cell statistics — a code row scores independently through the
    * ADC expression — so append ≡ rebuild-with-the-same-codebooks by
    * construction (encode and assignment are deterministic given the
    * codebooks; proven against the inline composition in LlmOpsSpec).
    * What an append CANNOT fix is codebook drift: a delta from a
    * shifted distribution still quantizes against the old centroids
    * (recall erodes, monitored by q_corpus_drift / the recall rows);
    * retraining = a fresh [[buildIvfPqIndex]] under the keep-two
    * versioned-store discipline. Fails loudly on an unbuilt store (the
    * codebook reads require the build's artifacts). */
  def appendIvfPqIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      delta: DataFrame, dim: Int = 64, m: Int = 8): Unit = {
    require(graft.sources.Fs.exists(s"$dir/coarse/_SUCCESS"),
      s"appendIvfPqIndex: no complete buildIvfPqIndex store under $dir")
    val coarse = spark.read.parquet(s"$dir/coarse")
    val pqCb = spark.read.parquet(s"$dir/pq")
    // the caller's (dim, m) must match the STORED pq codebook: an
    // append encoded with a different m writes codes of a different
    // packed length into the standing store, silently corrupting ADC
    // distances for every later probe. The codebook is KB-scale, so the
    // one-row geometry check costs nothing next to the encode.
    val geom = pqCb.agg(
      countDistinct(col("sub")).cast("int").as("m"),
      max(size(col("sc"))).as("sd")).collect()(0)
    require(geom.getInt(0) == m && geom.getInt(1) * m == dim,
      s"appendIvfPqIndex: store under $dir was trained with " +
        s"m=${geom.getInt(0)}, dim=${geom.getInt(1) * geom.getInt(0)} but the " +
        s"append was called with m=$m, dim=$dim — codes would not be " +
        "comparable to the standing ones")
    pqEncode(pqCb, delta, dim = dim, m = m)
      .join(assignCells(coarse, delta).select(col("corpus_id"), col("cell")),
        "corpus_id")
      .write.mode("append").partitionBy("cell").parquet(s"$dir/codes")
  }

  /** IVF-PQ serving against a [[buildIvfPqIndex]]-persisted index — the
    * deployment shape: both codebooks and the codes read from the
    * store, zero training in the query path. Parquet round-trips the
    * centroid doubles and code ints bit-exactly, so the top-k equals
    * the inline [[ivfPqTopK]] composition and the same oracle
    * adjudicates both. */
  def searchIvfPqIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      queries: DataFrame, k: Int, nprobe: Int,
      dim: Int = 64, m: Int = 8): DataFrame =
    ivfPqTopK(
      spark.read.parquet(s"$dir/coarse"),
      spark.read.parquet(s"$dir/pq"),
      spark.read.parquet(s"$dir/codes")
        .select(col("cell"), col("corpus_id"), col("code")),
      queries, k, nprobe, dim, m)

  def ivfPqTopK(coarse: DataFrame, pqCb: DataFrame, codes: DataFrame,
      queries: DataFrame, k: Int, nprobe: Int,
      dim: Int = 64, m: Int = 8): DataFrame = {
    val probed = queries.join(broadcast(coarse.select(col("cell"), col("ce"))))
      .select(col("query_id"), col("qe"), col("cell"),
        cosQ(col("qe"), col("ce")).as("cscore"))
      .withColumn("crnk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cscore").desc, col("cell").asc)))
      .filter(col("crnk") <= nprobe)
      .select(col("query_id"), col("cell"))
    val probeLut = probed.join(broadcast(pqLut(pqCb, queries, dim / m, m)), "query_id")
    val scored = codes.join(broadcast(probeLut), Seq("cell"))
      .select(col("query_id"), col("cell"), col("corpus_id"),
        call_function("graft_pq_adc", col("code"), col("lut")).as("dist_q"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist_q").asc, col("corpus_id").asc)
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }
}
