package graft.ops

import graft.Materialize.Ops
import graft.QueryDef
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the embedding column
  * (north-star surface): brute-force cosine top-k as the exact
  * baseline; a sign-bit LSH-bucketed variant as the scale path
  * (candidates restricted to the query's hyperplane bucket — at
  * cluster scale the bucket column is the partition/bucketing key, so
  * a query probes one partition instead of the full corpus).
  */
object Similarity {

  /** Deterministic dot product: sequential left fold in double, as a
    * codegen'd Catalyst expression (graft.functions.VecDot). Same fold
    * order as the DuckDB list_reduce mirror and as `dotHof`, so results
    * are bit-identical across all three. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VecMath.vec_dot(a, b)

  /** Declarative (higher-order-function) form of `dot` — kept as the
    * reference implementation the codegen expression is tested against.
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v)

  private def withNorm(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "embeddings")
      .withColumn("norm", sqrt(dot(col("embedding"), col("embedding"))))

  private val duckDot =
    "list_reduce(list_transform(generate_series(1, 64), i -> CAST(%s[i] AS DOUBLE) * CAST(%s[i] AS DOUBLE)), (x, y) -> x + y)"
  private[ops] def dd(a: String, b: String) = duckDot.format(a, b)

  /** Brute-force cosine top-k for a fixed query vector (vec_id 0). */
  val simTopkBruteforce = QueryDef(
    "sim_topk_bruteforce",
    Some(s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
            |SELECT e.vec_id, ROUND(${dd("e.embedding", "q.qe")}
            |  / (sqrt(${dd("e.embedding", "e.embedding")}) * sqrt(${dd("q.qe", "q.qe")})), 6) AS cos_sim
            |FROM embeddings e, q
            |WHERE e.vec_id <> 0
            |ORDER BY ${dd("e.embedding", "q.qe")}
            |  / (sqrt(${dd("e.embedding", "e.embedding")}) * sqrt(${dd("q.qe", "q.qe")})) DESC, e.vec_id
            |LIMIT 10""".stripMargin),
    (spark, dir) => {
      val e = withNorm(spark, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qe"), col("norm").as("qnorm"))
      val cos = dot(col("embedding"), col("qe")) / (col("norm") * col("qnorm"))
      e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"), cos.as("cos"))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"), round(col("cos"), 6).as("cos_sim"))
    })

  /** Sign-bit LSH bucket: 8 bits from the signs of the first 8
    * dimensions (a fixed axis-aligned hyperplane family). */
  private[ops] def bucketExpr(prefix: String): String =
    (1 to 8).map(i => s"CASE WHEN $prefix[$i] >= 0 THEN '1' ELSE '0' END").mkString(" || ")

  private[ops] def sparkBucket(c: Column): Column = sparkBand(c, 0)

  /** Sign-bit band `b` (0-based): 8 bits from the signs of dimensions
    * 8b+1..8b+8 — band 0 IS [[bucketExpr]]; bands 1..3 extend the same
    * axis-aligned hyperplane family to the OR-amplified multi-band
    * candidate generator of `decontaminate_embedding` (a pair
    * colliding in ANY band is a candidate — the recall-oriented
    * amplification direction, where the single-bucket dedup forms use
    * the precision direction). */
  private[ops] def bandExpr(prefix: String, b: Int): String =
    (8 * b + 1 to 8 * b + 8)
      .map(i => s"CASE WHEN $prefix[$i] >= 0 THEN '1' ELSE '0' END")
      .mkString(" || ")

  private[ops] def sparkBand(c: Column, b: Int): Column =
    concat((8 * b + 1 to 8 * b + 8)
      // dims beyond the vector's length NULL-route to '0', mirroring
      // the oracle (DuckDB's out-of-range list index yields NULL and
      // `CASE WHEN NULL >= 0` falls through) — without the guard,
      // ANSI-mode element_at THROWS on any input below 8·(b+1) dims
      // (bands 1..3 read dims 9..32; the fixed 64-dim test tables
      // never exercise it, but the decontamination entry points accept
      // arbitrary vectors). CaseWhen branches evaluate lazily, so the
      // length test genuinely guards the element_at.
      .map(i => when(size(c) < i, "0")
        .when(element_at(c, i) >= 0, "1").otherwise("0")): _*)

  /** Shared candidate-pair builder for the bucketed-cosine family
    * (`dedup_embedding_lsh`, `dedup_semantic_clusters`,
    * `sim_knn_graph`): cache the bucketed+normed relation, self-join
    * within a bucket, deterministic fold-order cosine, optional
    * threshold, checkpoint the (small) pair set, release the cache.
    * ONE definition so the bucket family and the fold order cannot
    * drift between the three call sites — each must stay bit-identical
    * to its oracle's [[bucketExpr]]/[[dd]] mirror. `ordered=true`
    * yields each pair once (va < vb); `ordered=false` yields both
    * directions (per-node neighbor lists). Output: va, vb, bucket,
    * cos. */
  private[ops] def bucketedCosinePairs(emb: DataFrame, ordered: Boolean,
      minCos: Option[Double]): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding"),
        sparkBucket(col("embedding")).as("bucket"),
        sqrt(dot(col("embedding"), col("embedding"))).as("norm"))
      .cache()
    val cond = if (ordered) col("a.vec_id") < col("b.vec_id")
               else col("a.vec_id") =!= col("b.vec_id")
    val cos = dot(col("a.embedding"), col("b.embedding")) /
      (col("a.norm") * col("b.norm"))
    val raw = e.as("a")
      .join(e.as("b"), col("a.bucket") === col("b.bucket") && cond)
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        col("a.bucket").as("bucket"), cos.as("cos"))
    val out = minCos.fold(raw)(t => raw.filter(col("cos") > t)).materialized
    e.unpersist()
    out
  }

  /** LSH-bucketed ANN: search only the query's sign-bit bucket. */
  val simTopkLsh = QueryDef(
    "sim_topk_lsh",
    Some(s"""WITH b AS (SELECT vec_id, embedding, ${bucketExpr("embedding")} AS bucket FROM embeddings),
            |q AS (SELECT embedding AS qe, bucket AS qb FROM b WHERE vec_id = 0)
            |SELECT e.vec_id, ROUND(${dd("e.embedding", "q.qe")}
            |  / (sqrt(${dd("e.embedding", "e.embedding")}) * sqrt(${dd("q.qe", "q.qe")})), 6) AS cos_sim
            |FROM b e, q
            |WHERE e.vec_id <> 0 AND e.bucket = q.qb
            |ORDER BY ${dd("e.embedding", "q.qe")}
            |  / (sqrt(${dd("e.embedding", "e.embedding")}) * sqrt(${dd("q.qe", "q.qe")})) DESC, e.vec_id
            |LIMIT 10""".stripMargin),
    (spark, dir) => {
      val e = withNorm(spark, dir)
        .withColumn("bucket", sparkBucket(col("embedding")))
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qe"), col("norm").as("qnorm"), col("bucket").as("qb"))
      val cos = dot(col("embedding"), col("qe")) / (col("norm") * col("qnorm"))
      e.filter(col("vec_id") =!= 0)
        .join(broadcast(q), col("bucket") === col("qb"))
        .select(col("vec_id"), cos.as("cos"))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"), round(col("cos"), 6).as("cos_sim"))
    })

  /** Build-once IVF index: `centroids` is one row per coarse cluster
    * (label, cent: array<double> of per-dimension means), materialized
    * eagerly (Materialize) so every probe scans the tiny persisted
    * relation — a probe plan NEVER re-aggregates the corpus. `corpus`
    * is the cluster-assigned embedding relation with precomputed norms.
    * `stats` is the per-cluster SUFFICIENT STATISTICS for drift
    * tracking — (label, vsum: per-dimension Σvec, n: row count),
    * maintained by [[appendToIvfIndex]] so the drift decision never
    * re-reads the corpus (k_coarse rows, same scale as the centroids).
    * At cluster scale: centroids+stats live on < 1 MB, the corpus is
    * written partitioned by `label`, so a probe reads `nprobe`
    * partitions of the corpus and nothing else. */
  final case class IvfIndex(centroids: DataFrame, corpus: DataFrame,
      stats: DataFrame)

  /** Phase 1 — index construction (run once per corpus version):
    * per-dimension centroid means AND sufficient statistics in ONE
    * posexplode pass (avg + sum + count per (label, dim) share the
    * aggregation), then checkpointed. This is the ONLY place the
    * full-corpus explode happens. */
  def buildIvfIndex(spark: SparkSession, dir: String): IvfIndex =
    buildIvfIndexFrom(Tables.table(spark, dir, "embeddings"))

  /** Index construction over any `(vec_id, label, embedding)` relation
    * — the testdata loader above is one caller; tests build over
    * synthetic clustered vectors. Recall of the probe depends on the
    * partition (`label`) actually clustering direction: on isotropic
    * random vectors NO partitioned ANN index concentrates the true
    * neighbors, which is a property of the data, not the index. */
  def buildIvfIndexFrom(emb: DataFrame): IvfIndex = {
    val corpus = emb
      .withColumn("norm", sqrt(dot(col("embedding"), col("embedding"))))
    val collected = emb
      .select(col("label"), posexplode(col("embedding")))
      .select(col("label"), col("pos").as("dim"), col("col").cast("double").as("v"))
      .groupBy("label", "dim")
      .agg(avg(col("v")).as("cv"), sum(col("v")).as("sv"), count(lit(1)).as("cnt"))
      .groupBy("label")
      .agg(
        expr("transform(array_sort(collect_list(struct(dim, cv))), x -> x.cv)").as("cent"),
        expr("transform(array_sort(collect_list(struct(dim, sv))), x -> x.sv)").as("vsum"),
        max(col("cnt")).as("n"))
      .materialized
    IvfIndex(collected.select("label", "cent"), corpus,
      collected.select("label", "vsum", "n"))
  }

  /** The centroid relation as ONE label-sorted broadcast row —
    * `(clabels, ccents)` parallel arrays, the [[pqCodebook]] shape
    * applied to the coarse quantizer. Labels keep their source type
    * (int32 test fixtures / int64 loaders) so assignment output is
    * type-transparent. */
  private def centroidList(centroids: DataFrame): DataFrame =
    centroids.agg(expr("array_sort(collect_list(struct(label, cent)))").as("cl"))
      .select(expr("transform(cl, s -> s.label)").as("clabels"),
        expr("transform(cl, s -> s.cent)").as("ccents"))

  /** Incremental maintenance leg 1 — ASSIGN: each new vector goes to
    * its nearest existing centroid. ONE map-side projection over the
    * broadcast one-row centroid list: the codegen'd
    * [[graft.functions.VecNearestIdx]] argmin (sequential-double d2
    * fold, lowest-label ties) replaces the old crossJoin →
    * interpreted-HOF → groupBy/min_by plan — same assignment
    * bit-for-bit (equivalence-tested against
    * [[assignToCentroidsRelational]]), with no n×k expansion, no HOF
    * interpretation and NO shuffle: cost is |batch| × k_coarse fused
    * distance folds, the textbook IVF append, now at codegen speed. */
  private[graft] def assignToCentroids(centroids: DataFrame, newVecs: DataFrame): DataFrame =
    newVecs.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(centroidList(centroids)))
      // empty centroid relation → no assignable rows (the relational
      // form's degenerate), not an ANSI element_at error
      .filter(size(col("ccents")) > 0)
      .select(col("vec_id"),
        element_at(col("clabels"),
          graft.functions.VecNearest.vec_nearest_idx(
            col("embedding"), col("ccents"))).as("label"),
        col("embedding"))

  /** The relational reference form of [[assignToCentroids]] (crossJoin
    * + interpreted d2 fold + min_by argmin) — kept as the
    * implementation the codegen kernel is equivalence-tested against.
    */
  private[graft] def assignToCentroidsRelational(centroids: DataFrame,
      newVecs: DataFrame): DataFrame = {
    val d2 = aggregate(
      zip_with(col("cent"), col("embedding"),
        (c, x) => (c - x.cast("double")) * (c - x.cast("double"))),
      lit(0.0), (acc, v) => acc + v)
    newVecs.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("label"), col("embedding"), d2.as("d2"))
      .groupBy("vec_id")
      .agg(
        min_by(col("label"), struct(col("d2"), col("label"))).as("label"),
        min_by(col("embedding"), struct(col("d2"), col("label"))).as("embedding"))
  }

  /** Incremental maintenance leg 2 — APPEND: new vectors join the
    * corpus under their assigned cluster label, and the per-cluster
    * sufficient statistics absorb the batch's (Σvec, count) deltas;
    * the centroids are left untouched (that is what the drift legs
    * measure and [[refreshIvfIndex]] repairs). At cluster scale this
    * is an append of `nprobe`-prunable partitions plus a k_coarse-row
    * stats merge — no rewrite of the existing corpus, no re-clustering,
    * and no corpus re-read on the hot path. */
  def appendToIvfIndex(index: IvfIndex, newVecs: DataFrame): IvfIndex = {
    val cols = Seq("vec_id", "label", "embedding", "norm").map(col)
    val assigned = assignToCentroids(index.centroids, newVecs)
      .withColumn("norm", sqrt(dot(col("embedding"), col("embedding"))))
    // batch-sized explode — the delta aggregation touches the APPENDED
    // vectors only, never the existing corpus
    val delta = assigned
      .select(col("label"), posexplode(col("embedding")))
      .select(col("label"), col("pos").as("dim"), col("col").cast("double").as("v"))
      .groupBy("label", "dim")
      .agg(sum(col("v")).as("sv"), count(lit(1)).as("cnt"))
    val mergedStats = index.stats
      .select(col("label"), col("n").as("cnt"), posexplode(col("vsum")))
      .select(col("label"), col("pos").as("dim"), col("col").as("sv"), col("cnt"))
      .unionByName(delta)
      .groupBy("label", "dim")
      .agg(sum(col("sv")).as("sv"), sum(col("cnt")).as("cnt"))
      .groupBy("label")
      .agg(
        expr("transform(array_sort(collect_list(struct(dim, sv))), x -> x.sv)").as("vsum"),
        max(col("cnt")).as("n"))
    IvfIndex(index.centroids,
      index.corpus.select(cols: _*).unionByName(assigned.select(cols: _*)),
      mergedStats)
  }

  /** Full-recompute DRIFT (audit form): per-cluster squared L2 between
    * the STORED centroid and the corpus' CURRENT per-cluster mean,
    * re-aggregated from every embedding (one posexplode pass, the
    * build's phase-1 shape). O(corpus×dim) — kept as the ground truth
    * [[ivfDriftIncremental]] is equivalence-tested against (OpsSpec),
    * and as the integrity check after an out-of-band corpus edit. The
    * refresh-decision cadence path is the incremental form. */
  def ivfDrift(index: IvfIndex): DataFrame = {
    val current = index.corpus
      .select(col("label"), posexplode(col("embedding")))
      .select(col("label"), col("pos").as("dim"), col("col").cast("double").as("v"))
      .groupBy("label", "dim").agg(avg(col("v")).as("cv"))
      .groupBy("label")
      .agg(expr("transform(array_sort(collect_list(struct(dim, cv))), x -> x.cv)").as("cur_cent"))
    index.centroids.join(current, "label")
      .select(col("label"),
        aggregate(
          zip_with(col("cent"), col("cur_cent"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, v) => acc + v).as("drift"))
  }

  /** Incremental maintenance leg 3 — DRIFT from the maintained
    * sufficient statistics: current mean = vsum/n per cluster, so the
    * whole computation is O(k_coarse × dim) over the k-row `stats`
    * relation — the corpus is NOT read. At 100 TB of embeddings this
    * is the difference between a control-plane scalar per cadence tick
    * and a full-corpus explode per cadence tick. */
  def ivfDriftIncremental(index: IvfIndex): DataFrame =
    index.centroids.join(index.stats, "label")
      .select(col("label"),
        aggregate(
          zip_with(col("cent"), col("vsum"),
            (c, s) => (c - s / col("n")) * (c - s / col("n"))),
          lit(0.0), (acc, v) => acc + v).as("drift"))

  /** Incremental maintenance leg 4 — REFRESH policy: rebuild the
    * centroids from the current corpus (assignments kept, means moved —
    * one Lloyd step, which is what IVF lists drift-repair means) iff
    * any cluster's [[ivfDriftIncremental]] exceeds `driftBound`;
    * otherwise the existing index keeps serving. The bound check reads
    * only the k-row stats relation — a one-row control-plane scalar
    * with no corpus involvement. OpsSpec proves refreshed-index recall
    * matches a from-scratch rebuild, an un-drifted index is returned
    * unchanged, and the incremental drift equals the full recompute. */
  def refreshIvfIndex(index: IvfIndex, driftBound: Double): IvfIndex = {
    val worst = ivfDriftIncremental(index).agg(max(col("drift")).as("d")).head()
    val maxDrift = if (worst.isNullAt(0)) 0.0 else worst.getDouble(0)
    if (maxDrift > driftBound) buildIvfIndexFrom(index.corpus) else index
  }

  /** Shared probe plan over a one-row `(qe, qnorm)` query relation:
    * squared distance from the query to each centroid is a sequential
    * zip_with fold (deterministic, no explode), the `nprobe` nearest
    * clusters are broadcast, and exact cosine runs only inside those
    * clusters. */
  private def probeCore(index: IvfIndex, q: DataFrame, exclude: Option[Long],
      k: Int, nprobe: Int): DataFrame = {
    val d2 = aggregate(
      zip_with(col("cent"), col("qe"),
        (c, x) => (c - x.cast("double")) * (c - x.cast("double"))),
      lit(0.0), (acc, v) => acc + v)
    val topClusters = index.centroids.crossJoin(broadcast(q))
      .select(col("label"), d2.as("d2"))
      .orderBy(col("d2"), col("label"))
      .limit(nprobe)
      .select("label")
    val cos = dot(col("embedding"), col("qe")) / (col("norm") * col("qnorm"))
    exclude.fold(index.corpus)(id => index.corpus.filter(col("vec_id") =!= id))
      .join(broadcast(topClusters), "label")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), cos.as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), round(col("cos"), 6).as("cos_sim"))
  }

  /** Phase 2 — probe by the id of a corpus vector (the oracle-friendly
    * form: both engines fetch the same stored row). Fetching the query
    * row is a corpus scan — id is not the partition key — so this form
    * is for offline evaluation; online serving uses
    * [[ivfProbeVector]]. */
  def ivfProbe(index: IvfIndex, queryVecId: Long, k: Int = 10, nprobe: Int = 2): DataFrame =
    probeCore(index,
      index.corpus.filter(col("vec_id") === queryVecId)
        .select(col("embedding").as("qe"), col("norm").as("qnorm")),
      exclude = Some(queryVecId), k, nprobe)

  /** Phase 2 — probe by an ARBITRARY embedding (the ANN serving path:
    * the query vector arrives from outside, e.g. a freshly embedded
    * document, and is NOT in the corpus). The vector becomes a one-row
    * literal relation — no corpus scan to fetch it — and the rest of
    * the plan is identical to [[ivfProbe]]: centroid fold, `nprobe`
    * broadcast, within-cluster exact cosine. */
  def ivfProbeVector(index: IvfIndex, query: Seq[Float], k: Int = 10,
      nprobe: Int = 2): DataFrame = {
    val q = index.centroids.sparkSession.range(1)
      .select(typedLit(query).as("qe"))
      .withColumn("qnorm", sqrt(dot(col("qe"), col("qe"))))
    probeCore(index, q, exclude = None, k, nprobe)
  }

  // ---- re-ranking leg: int8 sketch stage over WIDE cells, exact ----
  // ---- cosine only inside the sketch-chosen cells                ----

  /** Per-vector int8 quantization scale: max |component| (floored at
    * 1e-30 so an all-zero vector quantizes to zeros instead of an ANSI
    * overflow on the int cast). array_max on both engines — exact,
    * order-free. */
  private[ops] def amaxCol(e: Column): Column =
    greatest(array_max(transform(e, x => abs(x.cast("double")))), lit(1e-30))

  /** int8 code: floor(x·127/amax + 0.5) — floor-based symmetric
    * rounding, NOT `round` (floor is bit-identical across engines;
    * ROUND's tie handling is not). |code| ≤ 127 by construction. */
  private[ops] def q8Col(e: Column, amax: Column): Column =
    transform(e, x => floor(x.cast("double") * 127.0 / amax + 0.5).cast("int"))

  /** Exact integer dot of two int8 code arrays — the codegen'd kernel
    * ([[graft.functions.VecMath.vec_dot_int]]; integer sums are exact
    * and order-independent, so it is bit-identical to the HOF
    * reference form [[intDotHof]] and to the oracle's `list_reduce`
    * mirror by arithmetic alone, VecDotSpec-verified). */
  private[ops] def intDot(a: Column, b: Column): Column =
    graft.functions.VecMath.vec_dot_int(a, b)

  /** Declarative reference form of [[intDot]] — what the codegen
    * expression is equivalence-tested against. */
  private[graft] def intDotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x * y).cast("long")), lit(0L),
      (acc, v) => acc + v)

  /** The (vec_id, label, norm, eamax, q8) sketch of a corpus — ~¼ the
    * full-precision bytes; what [[persistIvfIndex]]/[[compactIvfIndex]]
    * materialize per generation for the re-ranked probe's stage 1. */
  private[ops] def sketchOf(corpus: DataFrame): DataFrame =
    corpus.withColumn("eamax", amaxCol(col("embedding")))
      .select(col("vec_id"), col("label"), col("norm"), col("eamax"),
        q8Col(col("embedding"), col("eamax")).as("q8"))

  /** Stage-1 approximate cosine from the int8 codes:
    * ((eamax·qamax)/127² · Σ q8ᵉ·q8ᵠ) / (norm·qnorm). Parenthesized to
    * match the oracle's evaluation order operation for operation. */
  private def approxCos: Column =
    ((col("eamax") * col("qamax") / lit(16129.0)) *
      intDot(col("q8"), col("q8q")).cast("double")) /
      (col("norm") * col("qnorm"))

  /** Re-ranked IVF probe: the coarse quantizer picks `nprobeWide`
    * cells (cheap — centroid fold), the int8 SKETCH of those cells
    * scores every member approximately, and exact cosine then runs
    * ONLY inside the `rerankCells` cells holding the best sketch
    * candidates. Same full-precision I/O as a plain
    * `nprobe = rerankCells` probe, but the cells are chosen by
    * evidence from an 8× wider net — which repairs the classic
    * L2-quantizer/cosine-metric mismatch: an angularly-aligned cluster
    * at a different magnitude is far from the query by centroid L2
    * (never probed at nprobe=2) yet scores top of the sketch pool.
    * PropertySpec gates recall ≥ 0.95 on exactly that geometry, where
    * the plain probe scores ≤ 0.5. */
  def ivfProbeReranked(index: IvfIndex, queryVecId: Long, k: Int = 10,
      nprobeWide: Int = 8, rerankCells: Int = 2, poolSize: Int = 50): DataFrame = {
    val q = index.corpus.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("qe"), col("norm").as("qnorm"))
      .withColumn("qamax", amaxCol(col("qe")))
      .withColumn("q8q", q8Col(col("qe"), col("qamax")))
    val d2 = aggregate(
      zip_with(col("cent"), col("qe"),
        (c, x) => (c - x.cast("double")) * (c - x.cast("double"))),
      lit(0.0), (acc, v) => acc + v)
    val wide = index.centroids.crossJoin(broadcast(q.select("qe")))
      .select(col("label"), d2.as("d2"))
      .orderBy(col("d2"), col("label")).limit(nprobeWide).select("label")
    // restrict to the wide cells BEFORE encoding: stage-1 cost is
    // O(probed cells), not O(corpus) — the join cannot be pushed below
    // a computing projection by the optimizer, so the order here IS
    // the plan (PlanSpec pins it)
    val pool = sketchOf(index.corpus.filter(col("vec_id") =!= queryVecId)
        .join(broadcast(wide), "label"))
      .crossJoin(broadcast(q.select("qamax", "q8q", "qnorm")))
      .select(col("vec_id"), col("label"), approxCos.as("ap"))
      .orderBy(col("ap").desc, col("vec_id")).limit(poolSize)
    val cells = pool.groupBy("label").agg(max(col("ap")).as("m"))
      .orderBy(col("m").desc, col("label")).limit(rerankCells).select("label")
    val cos = dot(col("embedding"), col("qe")) / (col("norm") * col("qnorm"))
    index.corpus.filter(col("vec_id") =!= queryVecId)
      .join(broadcast(cells), "label")
      .crossJoin(broadcast(q.select("qe", "qnorm")))
      .select(col("vec_id"), cos.as("cos"))
      .orderBy(col("cos").desc, col("vec_id")).limit(k)
      .select(col("vec_id"), round(col("cos"), 6).as("cos_sim"))
  }

  // ---- PQ codec: per-subspace codebooks from the coarse centroids ----
  // ---- (second stage-1 codec next to the int8 sketch — 8 codes    ----
  // ---- per vector instead of 64 int8 components)                  ----

  /** Product-quantization geometry: M = 8 subvectors of dim/8
    * components each (64-dim corpus → 8×8; dim must be divisible by
    * M). Sub-codebook `m` is the coarse centroid relation PROJECTED
    * onto subspace m's dims — k_coarse codewords per subspace, chosen
    * independently per subspace, so the effective reconstruction
    * vocabulary is k_coarse^8 combinations (the product-quantizer
    * expressivity gain over the k_coarse whole-vector cells) at zero
    * extra training or metadata: the codebook IS the per-generation
    * centroid relation the index already persists. */
  // the ONE shared subspace-count constant — the codegen encode kernel
  // reads the same value, so the kernel, the HOF reference, the LUT
  // widths, the trained codebooks and the oracle mirrors cannot drift
  private[ops] val pqM = graft.functions.VecPq.M

  /** Effective subspace count: min(M, dim) — a corpus below 8 dims
    * (tiny test indexes) degrades to one dim per subspace instead of
    * a zero-width subvector. Keeps every PQ operator
    * dimension-agnostic like the rest of this file. */
  private def pqMEff(vec: Column): Column =
    greatest(least(lit(pqM), size(vec)), lit(1))

  /** Subvector width: dim / M_eff (trailing dims beyond
    * sub·M_eff are ignored by stage 1 — the exact stage is
    * unaffected). */
  private def pqSubW(vec: Column): Column =
    (size(vec) / pqMEff(vec)).cast("int")

  /** The codebook as ONE ordered row: centroid vectors sorted by
    * label and NORMALIZED to unit length, so codes are 1-based
    * POSITIONS in this list (stable across label renumberings and
    * SF-independent — k_coarse varies with the corpus). The
    * normalization is the cosine-metric form of PQ: codes quantize the
    * vector's DIRECTION v/|v| against codewords on the same unit
    * sphere, so a vector's magnitude never distorts its reconstruction
    * (raw-vector PQ under-scores any vector whose magnitude sits off
    * the codebook's scale — the same magnitude blindness the re-ranked
    * leg exists to repair in the coarse quantizer). k_coarse rows in,
    * one broadcast-sized row out. */
  private[graft] def pqCodebook(centroids: DataFrame): DataFrame =
    centroids.agg(expr(
      """transform(array_sort(collect_list(struct(label, cent))),
        |  s -> transform(s.cent, x ->
        |    x / greatest(sqrt(aggregate(s.cent, 0.0D, (a, v) -> a + v * v)), 1e-30D)))"""
        .stripMargin)
      .as("cb"))

  /** Per-subspace Lloyd-refined sub-codebooks — the optional trained
    * depth over the training-free projection codebook. Each subspace's
    * k codewords start as the projection codebook's slices (normalized
    * centroids, so zero iterations returns exactly the projection
    * form) and are refined by `iters` Lloyd passes over a bounded
    * DETERMINISTIC sample of unit-direction subvectors: the sample is
    * the top-`sampleN` corpus rows by (murmur3(vec_id), vec_id) — a
    * TakeOrdered, never a full sort — so retraining the same committed
    * corpus always yields byte-identical codebooks (replay/compaction
    * determinism; `Random`-style seeds are banned repo-wide). The
    * refined subspaces are CONCATENATED back into k full-dim codewords
    * (codeword i's slice m is subspace m's trained codeword i), which
    * keeps the persisted relation, the encode/LUT kernels, and the
    * one-row broadcast shape identical to the projection codebook —
    * only the numbers move. Lloyd runs driver-side over ≤ sampleN×dim
    * doubles (control-plane scale: the sample collect is the only
    * cluster job). Empty clusters keep their previous codeword; ties
    * assign to the lowest codeword, the file-wide tie-break. */
  private[graft] def trainPqCodebookRows(corpus: DataFrame,
      centroids: DataFrame, iters: Int,
      sampleN: Int = 4096): Seq[(Int, Seq[Double])] = {
    val sample = corpus
      .orderBy(pmod(hash(col("vec_id")), lit(1000003)), col("vec_id"))
      .limit(sampleN)
      .select("embedding", "norm").collect()
      .map { r =>
        val n = math.max(r.getDouble(1), 1e-30)
        r.getSeq[Float](0).map(_.toDouble / n).toArray
      }
    val init = centroids.orderBy("label").select("cent").collect()
      .map { r =>
        val c = r.getSeq[Double](0).toArray
        val n = math.max(math.sqrt(c.map(x => x * x).sum), 1e-30)
        c.map(_ / n)
      }
    require(init.nonEmpty, "trainPqCodebookRows: empty centroid relation")
    val dim = init.head.length
    val mEff = math.max(math.min(pqM, dim), 1)
    val subW = dim / mEff
    val out = init.map(_.clone())
    if (sample.nonEmpty && subW > 0) {
      var m = 0
      while (m < mEff) {
        val off = m * subW
        var cw: Array[Array[Double]] =
          out.map(c => java.util.Arrays.copyOfRange(c, off, off + subW))
        var it = 0
        while (it < iters) {
          val sums = Array.fill(cw.length)(new Array[Double](subW))
          val counts = new Array[Long](cw.length)
          for (p <- sample if p.length >= off + subW) {
            var best = 0
            var bestD = Double.MaxValue
            var i = 0
            while (i < cw.length) {
              var d2 = 0.0
              var j = 0
              while (j < subW) { val d = cw(i)(j) - p(off + j); d2 += d * d; j += 1 }
              if (d2 < bestD) { bestD = d2; best = i }
              i += 1
            }
            var j = 0
            while (j < subW) { sums(best)(j) += p(off + j); j += 1 }
            counts(best) += 1
          }
          cw = Array.tabulate(cw.length)(i =>
            if (counts(i) == 0) cw(i)
            else sums(i).map(_ / counts(i)))
          it += 1
        }
        var i = 0
        while (i < out.length) {
          System.arraycopy(cw(i), 0, out(i), off, subW)
          i += 1
        }
        m += 1
      }
    }
    out.toIndexedSeq.zipWithIndex.map { case (w, i) => (i + 1, w.toSeq) }
  }

  private val pqcbReadSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "pos INT, w ARRAY<DOUBLE>")

  /** Persist a trained codebook as generation metadata (`pqcb_g<gen>`:
    * one row per codeword position) — written BEFORE the `pq_g` codes
    * that reference it, invisible until the manifest commit, GC'd with
    * its generation. */
  private def writePqCodebook(spark: SparkSession, dir: String, gen: Long,
      rows: Seq[(Int, Seq[Double])]): Unit = {
    import spark.implicits._
    rows.toDF("pos", "w").repartition(1)
      .write.mode("overwrite").parquet(gdir(dir, "pqcb", gen))
  }

  /** The committed trained codebook of a generation as the one-row
    * broadcast `cb` relation (read-back, so codes and serving score
    * against the same committed bytes). */
  private def readPqCodebookDf(spark: SparkSession, dir: String,
      gen: Long): DataFrame =
    spark.read.schema(pqcbReadSchema).parquet(gdir(dir, "pqcb", gen))
      .agg(expr(
        "transform(array_sort(collect_list(struct(pos, w))), s -> s.w)")
        .as("cb"))

  /** The serving PQ codebook of a resolved generation: the trained
    * relation when the layout carries one, else the projection
    * codebook over the live centroids. A codebook change is a
    * compaction by construction either way — `pq_g` and `pqcb_g` are
    * written together, so persisted codes always score against their
    * own codebook. Gated on the `_SUCCESS` marker, not directory
    * existence: a crashed trained write leaves a TORN `pqcb_g<gen>`
    * directory behind, and a marker-less directory must read as "no
    * trained codebook" (the replaying compaction either rewrites it or
    * deletes it — see the untrained branch of
    * [[compactIvfIndexHooked]]). */
  private[graft] def servingPqCodebookAt(spark: SparkSession, indexDir: String,
      st: graft.GenManifest.State, centroids: DataFrame): DataFrame =
    if (graft.IndexFs.exists(spark,
        s"${gdir(indexDir, "pqcb", st.gen)}/_SUCCESS"))
      readPqCodebookDf(spark, indexDir, st.gen)
    else pqCodebook(centroids)

  /** Squared L2 between codeword subvector m of `cvec` and subvector m
    * of the row's NORMALIZED embedding — sequential j-fold in double,
    * the exact fold the oracle's list_reduce mirrors. */
  private def pqSubD2(cvec: Column, m: Column): Column = {
    val sub = pqSubW(col("embedding"))
    aggregate(sequence(lit(0), sub - 1), lit(0.0), (acc, j) => {
      val idx = m * sub + j + 1
      val d = element_at(cvec, idx) -
        element_at(col("embedding"), idx).cast("double") /
          greatest(col("norm"), lit(1e-30))
      acc + d * d
    })
  }

  /** codes[m] = 1-based position of the nearest codeword in subspace m
    * (ties → lowest position, via lexicographic struct(d2, i) min —
    * the deterministic tie-break every ranking in this file uses).
    * Codegen'd kernel ([[graft.functions.VecPqEncode]]) — bit-identical
    * to [[pqCodesColHof]], the declarative reference form it is
    * equivalence-tested against (VecPqSpec). */
  private def pqCodesCol: Column =
    graft.functions.VecPq.vec_pq_encode(col("embedding"), col("norm"), col("cb"))

  /** Declarative (HOF) reference form of [[pqCodesCol]] — kept as the
    * implementation the codegen expression is tested against. */
  private[graft] def pqCodesColHof: Column =
    when(size(col("embedding")) === 0, array().cast("array<int>"))
      .otherwise(transform(sequence(lit(0), pqMEff(col("embedding")) - 1), m =>
        array_min(transform(col("cb"), (cvec, i) =>
          struct(pqSubD2(cvec, m).as("d2"), (i + lit(1)).as("i"))))
          .getField("i")))

  /** The (vec_id, label, pqc) PQ encoding of a corpus — 8 small ints
    * per vector (vs 64 int8 components + 2 doubles for the `q8`
    * sketch; the parquet column bit-packs codes ≤ k_coarse, and no
    * norm is stored because direction-encoded scores never divide by
    * it). Encoding is one codegen'd HOF pass over a broadcast one-row
    * codebook: no explode, no shuffle — what [[persistIvfIndex]]/
    * [[compactIvfIndex]] materialize per generation as `pq_g<gen>`. */
  private[ops] def pqCodesOf(corpus: DataFrame, centroids: DataFrame): DataFrame =
    pqCodesOfCb(corpus, pqCodebook(centroids))

  /** [[pqCodesOf]] against an EXPLICIT one-row codebook relation — the
    * seam shared by the projection codebook ([[pqCodebook]]) and a
    * trained per-generation codebook ([[trainPqCodebookRows]]): both
    * produce the same `cb` shape, so encode/LUT/fold never know which
    * kind scored them. */
  private[ops] def pqCodesOfCb(corpus: DataFrame, cb: DataFrame): DataFrame =
    corpus.crossJoin(broadcast(cb))
      .select(col("vec_id"), col("label"), pqCodesCol.as("pqc"))

  /** Per-query lookup table over the SAME one-row codebook:
    * lut[m][i] = ⟨query subvector m, codeword i of subspace m⟩ —
    * computed once per query row (M × k_coarse folds), so scoring a
    * corpus row is M array lookups + adds (classic asymmetric-distance
    * computation, inner-product form). */
  private[graft] def pqLutCol(qe: Column): Column = {
    val sub = pqSubW(qe)
    when(size(qe) === 0, array().cast("array<array<double>>"))
      .otherwise(transform(sequence(lit(0), pqMEff(qe) - 1), m =>
        transform(col("cb"), cvec =>
          aggregate(sequence(lit(0), sub - 1), lit(0.0), (acc, j) => {
            val idx = m * sub + j + 1
            acc + element_at(cvec, idx) * element_at(qe, idx).cast("double")
          }))))
  }

  /** Stage-1 approximate cosine from PQ codes: ⟨q, reconstruction of
    * v/|v|⟩ / qnorm — the reconstruction dot collapses to
    * Σₘ lut[m][code[m]] because subspaces are disjoint, and the row's
    * own norm cancels because codes encode the unit direction.
    * Sequential m-fold as a codegen'd kernel
    * ([[graft.functions.VecPqFold]]; division stays declarative, the
    * `vec_cosine`-around-`vec_dot` composition pattern) — bit-identical
    * to [[approxCosPqHof]], oracle-mirrored. */
  private def approxCosPq: Column =
    when(size(col("pqc")) === 0, lit(0.0))
      .otherwise(graft.functions.VecPq.vec_pq_fold(col("pqc"), col("lut"))) /
      greatest(col("qnorm"), lit(1e-30))

  /** Declarative (HOF) reference form of [[approxCosPq]] — kept as the
    * implementation the codegen expression is tested against. */
  private[graft] def approxCosPqHof: Column =
    when(size(col("pqc")) === 0, lit(0.0))
      .otherwise(aggregate(sequence(lit(0), size(col("pqc")) - 1), lit(0.0), (acc, m) =>
        acc + element_at(element_at(col("lut"), m + 1), element_at(col("pqc"), m + 1)))) /
      greatest(col("qnorm"), lit(1e-30))

  /** [[ivfProbeReranked]] with the PQ codec in stage 1: the coarse
    * quantizer picks `nprobeWide` cells, the PQ codes of those cells
    * score every member via the query LUT (8 lookups/row — ⅛ the
    * sketch dot's work and ⅛ its bytes), exact cosine runs only inside
    * the `rerankCells` chosen cells. Same full-precision I/O as the
    * int8 form; what changes is stage-1's bytes/row and arithmetic. */
  def ivfProbeRerankedPq(index: IvfIndex, queryVecId: Long, k: Int = 10,
      nprobeWide: Int = 8, rerankCells: Int = 2, poolSize: Int = 50): DataFrame = {
    val q = index.corpus.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("qe"), col("norm").as("qnorm"))
    val d2 = aggregate(
      zip_with(col("cent"), col("qe"),
        (c, x) => (c - x.cast("double")) * (c - x.cast("double"))),
      lit(0.0), (acc, v) => acc + v)
    val wide = index.centroids.crossJoin(broadcast(q.select("qe")))
      .select(col("label"), d2.as("d2"))
      .orderBy(col("d2"), col("label")).limit(nprobeWide).select("label")
    val qlut = q.crossJoin(broadcast(pqCodebook(index.centroids)))
      .withColumn("lut", pqLutCol(col("qe")))
      .select("qe", "qnorm", "lut")
    // restrict to the wide cells BEFORE encoding — every corpus row
    // paying the 8-subspace × k-codeword argmin for an 8-of-k-cell
    // pool is exactly the plan inversion PlanSpec gates against
    val pool = pqCodesOf(index.corpus.filter(col("vec_id") =!= queryVecId)
        .join(broadcast(wide), "label"), index.centroids)
      .crossJoin(broadcast(qlut.select("lut", "qnorm")))
      .select(col("vec_id"), col("label"), approxCosPq.as("ap"))
      .orderBy(col("ap").desc, col("vec_id")).limit(poolSize)
    val cells = pool.groupBy("label").agg(max(col("ap")).as("m"))
      .orderBy(col("m").desc, col("label")).limit(rerankCells).select("label")
    val cos = dot(col("embedding"), col("qe")) / (col("norm") * col("qnorm"))
    index.corpus.filter(col("vec_id") =!= queryVecId)
      .join(broadcast(cells), "label")
      .crossJoin(broadcast(q.select("qe", "qnorm")))
      .select(col("vec_id"), cos.as("cos"))
      .orderBy(col("cos").desc, col("vec_id")).limit(k)
      .select(col("vec_id"), round(col("cos"), 6).as("cos_sim"))
  }

  /** Generation-dir prefixes of the persisted layout: every generation
    * `g` owns `corpus_g<g>` + `centroids_g<g>` + `stats_g<g>`, and the
    * newest manifest (`m<seq>`, [[graft.GenManifest]]) names the live
    * generation plus the delta floor. All listing/commit I/O goes
    * through the Hadoop FileSystem seam ([[graft.IndexFs]]). */
  private val ivfPrefixes = Seq("corpus", "centroids", "stats", "sketch", "pq", "pqcb")
  private def gdir(indexDir: String, pre: String, gen: Long) =
    s"$indexDir/${pre}_g$gen"

  private[graft] def resolveIvf(spark: SparkSession, indexDir: String): graft.GenManifest.State =
    graft.GenLifecycle.resolveOrThrow(spark, indexDir, "IVF", "persistIvfIndex")

  /** Explicit read schema for the label-partitioned corpus — NEVER
    * inferred: the explicit type keeps `label` a BIGINT without a
    * per-root cast, and an EMPTY committed delta (only `_SUCCESS` on
    * disk) reads as zero rows instead of failing schema inference. */
  private val corpusReadSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "vec_id BIGINT, embedding ARRAY<FLOAT>, norm DOUBLE, label BIGINT")

  private def readCorpusRoot(spark: SparkSession, root: String,
      paths: Seq[String]): DataFrame =
    // cell-path reads list on the driver, not via a Spark job — the
    // path count is probe-bounded (IndexFs.withCellListing)
    graft.IndexFs.withCellListing(spark) {
      spark.read.schema(corpusReadSchema).option("basePath", root)
        .parquet(paths: _*)
    }

  /** One committed delta, read in full (batch-sized) — the
    * maintenance scheduler's drift input. */
  private[ops] def readDeltaRoot(spark: SparkSession, indexDir: String,
      id: Long): DataFrame = {
    val root = s"$indexDir/delta/b$id"
    readCorpusRoot(spark, root, Seq(root))
  }

  /** Persist the index as a SERVING layout: centroids and sufficient
    * stats as small parquet relations, the corpus PARTITIONED BY the
    * cluster `label` — one directory per coarse cell. A probe against
    * the persisted form touches exactly its `nprobe` label directories
    * and nothing else (path-level partition pruning), which is the
    * on-disk IVF contract at 100 TB: index build cost is paid once,
    * serving I/O is proportional to the probed cells, not the corpus.
    * Creates/replaces the index at `indexDir` as generation 0,
    * committed by atomic manifest rename; a hot label cell above
    * `maxCellRows` rows splits into several bounded files
    * ([[Storage.writeCellClustered]]). */
  def persistIvfIndex(index: IvfIndex, dir: String,
      maxCellRows: Long = Dedup.defaultMaxCellRows,
      trainPqIters: Int = 0): Unit = {
    val spark = index.centroids.sparkSession
    graft.GenManifest.reset(spark, dir, ivfPrefixes)
    // empty delta ledger from birth: every reader requires one
    graft.GenManifest.writeLedger(spark, dir, Seq.empty)
    index.centroids.write.mode("overwrite").parquet(gdir(dir, "centroids", 0))
    // fresh identity BEFORE the commit: a rebuilt index re-uses gen 0,
    // and serving caches key on this token (see centroidCache)
    writeGenId(spark, gdir(dir, "centroids", 0))
    index.stats.write.mode("overwrite").parquet(gdir(dir, "stats", 0))
    Storage.writeCellClustered(index.corpus, Seq("label"), "vec_id",
      gdir(dir, "corpus", 0), maxCellRows)
    // the codec relations derive from a READ-BACK of the just-written
    // corpus cells, NOT from index.corpus: each writeCellClustered call
    // pins and evaluates its input once, so deriving all three from the
    // in-memory corpus would run the assignment/union lineage three
    // times (measured 2.2× on the served build query). One lineage
    // evaluation + two cheap columnar re-reads instead — and the codecs
    // are byte-coupled to the committed cells by construction.
    // (Safe to read pre-commit: the generation is invisible until the
    // manifest rename below.)
    val committed = readCorpusRoot(spark, gdir(dir, "corpus", 0),
      Seq(gdir(dir, "corpus", 0)))
    Storage.writeCellClustered(sketchOf(committed), Seq("label"), "vec_id",
      gdir(dir, "sketch", 0), maxCellRows)
    // trainPqIters > 0 refines the per-subspace codebook on the
    // committed corpus (projection codebook otherwise); codes and
    // codebook land together, before the commit that makes them live
    val cb =
      if (trainPqIters > 0) {
        writePqCodebook(spark, dir, 0,
          trainPqCodebookRows(committed, index.centroids, trainPqIters))
        readPqCodebookDf(spark, dir, 0)
      } else pqCodebook(index.centroids)
    Storage.writeCellClustered(pqCodesOfCb(committed, cb),
      Seq("label"), "vec_id", gdir(dir, "pq", 0), maxCellRows)
    graft.GenManifest.commit(spark, dir, seq = 0, gen = 0, floor = -1)
  }

  /** Load a [[persistIvfIndex]] layout back into the in-memory form
    * ([[ivfProbe]]/[[appendToIvfIndex]]/drift all work on it). Base
    * generation only — un-compacted deltas AND un-applied tombstones
    * are a serving-path concern ([[servingCorpus]]); compact first
    * for a full (and delete-honoring) in-memory load.
    * `label` is re-cast to long: parquet partition-column inference
    * narrows small integral values to int. */
  def loadIvfIndex(spark: SparkSession, dir: String): IvfIndex = {
    val st = resolveIvf(spark, dir)
    val corpusDir = gdir(dir, "corpus", st.gen)
    IvfIndex(
      servingCentroidsAt(spark, dir, st),
      readCorpusRoot(spark, corpusDir, Seq(corpusDir)),
      spark.read.parquet(gdir(dir, "stats", st.gen)))
  }

  /** The `nprobe` nearest cluster labels for a query vector, computed
    * CLIENT-SIDE over the collected centroid relation — k_coarse rows,
    * the control-plane collect every real ANN server performs (the
    * coarse quantizer lives with the router, not in the cluster).
    * Shared by the batch served probe and the streaming server's
    * partition pruning. */
  private[graft] def nearestLabels(spark: SparkSession, indexDir: String,
      query: Seq[Float], nprobe: Int): Seq[Long] =
    nearestLabelsAt(spark, indexDir, resolveIvf(spark, indexDir), query, nprobe)

  private def nearestLabelsAt(spark: SparkSession, indexDir: String,
      st: graft.GenManifest.State, query: Seq[Float], nprobe: Int): Seq[Long] = {
    val qd = query.map(_.toDouble).toArray
    centroidRowsCached(spark, indexDir, st)._2.map { r =>
      val cent = r.getSeq[Double](r.fieldIndex("cent"))
      var d2 = 0.0
      var i = 0
      while (i < qd.length) { val d = cent(i) - qd(i); d2 += d * d; i += 1 }
      (d2, r.getAs[Number]("label").longValue) // label is int32 or int64 by source
    }.sorted.take(nprobe).map(_._2).toSeq
  }

  /** The live generation's centroid relation of a persisted index —
    * the coarse-quantizer side shared by [[nearestLabels]] and the
    * streaming ANN server's per-batch cluster assignment (k_coarse
    * rows; always broadcast-sized). Resolves the newest manifest, so
    * a compaction that moved the centroids to a new generation is
    * picked up on the next batch with no coordination. */
  private[graft] def servingCentroids(spark: SparkSession,
      indexDir: String): DataFrame =
    servingCentroidsAt(spark, indexDir, resolveIvf(spark, indexDir))

  private[graft] def servingCentroidsAt(spark: SparkSession, indexDir: String,
      st: graft.GenManifest.State): DataFrame =
    spark.read.parquet(gdir(indexDir, "centroids", st.gen))

  /** A generation's IDENTITY token (`_id` inside the centroids dir,
    * one random UUID written with the data like `_prefix_len`): the
    * cache key ingredient that makes driver-local caching of
    * generation content SAFE. `(indexDir, gen)` alone is not an
    * identity — `persistIvfIndex` RESETS the manifest chain, so a
    * rebuilt index re-uses gen 0 with different centroids and a
    * gen-keyed cache would silently serve the old coarse quantizer
    * (the prefixLen lesson: identity must be explicit metadata, never
    * inferred from paths). Every centroid generation carries one:
    * persist and compaction write it before the manifest commit. */
  private def writeGenId(spark: SparkSession, root: String): Unit =
    graft.GenLifecycle.writeGenId(spark, root)

  /** Driver-local cache of COLLECTED centroid relations, keyed by
    * (indexDir, gen, identity): a committed generation's
    * `centroids_g<gen>` is immutable, so its k_coarse rows (a few KB)
    * can be collected once and replayed as a LocalRelation for every
    * subsequent probe and serving micro-batch of that generation.
    * This removes a parquet footer/scan read from EVERY serving
    * micro-batch AND lets Spark build the assignment broadcast
    * driver-side with no extra job — measured ~60 ms plan cost plus a
    * share of the ~220 ms assign job per `annServe` batch, the fixed
    * overhead the 1×-batch rows/s floor is made of (PERF.md r11). On
    * insert, entries of OLDER generations for the same indexDir are
    * dropped (the keep-two GC discipline); the cache never grows past
    * two generations per served index. */
  private val centroidCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, String),
    (org.apache.spark.sql.types.StructType, Array[org.apache.spark.sql.Row])]()

  private def centroidRowsCached(spark: SparkSession, indexDir: String,
      st: graft.GenManifest.State)
      : (org.apache.spark.sql.types.StructType, Array[org.apache.spark.sql.Row]) = {
    val id = graft.GenLifecycle.readGenId(spark, gdir(indexDir, "centroids", st.gen))
    val got = centroidCache.computeIfAbsent((indexDir, st.gen, id), _ => {
      val df = servingCentroidsAt(spark, indexDir, st)
      (df.schema, df.collect())
    })
    // evict superseded entries: older generations AND same-gen
    // entries under a different identity — an in-place rebuild
    // re-uses gen 0 with a fresh token, and without the same-gen
    // clause one dead row array would leak per rebuild
    centroidCache.keySet().removeIf(k =>
      k._1 == indexDir &&
        (k._2 < st.gen || (k._2 == st.gen && k._3 != id)))
    got
  }

  /** [[servingCentroidsAt]] through the generation cache: a
    * LocalRelation replay of the committed rows. Values are identical
    * by construction (immutable generation + explicit identity), so
    * callers choose purely on access pattern — the per-batch/per-probe
    * serving paths use this; one-shot maintenance reads keep the
    * direct form. */
  private[graft] def servingCentroidsCached(spark: SparkSession,
      indexDir: String, st: graft.GenManifest.State): DataFrame = {
    val (schema, rows) = centroidRowsCached(spark, indexDir, st)
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Grow a PERSISTED index in place: the batch is assigned to its
    * nearest existing centroids and written as a label-partitioned
    * DELTA under `delta/b<batchId>` — the base corpus is never
    * rewritten, and a replayed batch OVERWRITES its own delta
    * directory (batchId idempotence, the [[graft.streaming.StreamOps
    * .statsMergePartitioned]] discipline applied to index growth).
    * A replayed append of a batch the manifest floor already absorbed
    * rewrites a delta nobody reads again. Serving reads base + deltas
    * above the floor per probed label ([[servingCorpus]]);
    * [[compactIvfIndex]] folds deltas back into the base offline.
    * Centroids/stats stay as built — drift is the signal to
    * recompact/rebuild, exactly as in the in-memory
    * [[appendToIvfIndex]] story. */
  def appendToPersistedIvfIndex(spark: SparkSession, indexDir: String,
      newVecs: DataFrame, batchId: Long,
      maxCellRows: Long = Dedup.defaultMaxCellRows): Unit = {
    // once an annIngest/annIngestCdc stream owns the delta axis, a
    // direct append above its counter rejects loudly — the write-side
    // twin of the takedown guard; the ingest loop appends through the
    // unchecked form below (it IS the axis owner)
    graft.GenLifecycle.assertAppendOnAxis(spark, indexDir, batchId,
      "StreamOps.annIngest / annIngestCdc")
    appendToPersistedIvfIndexUnchecked(spark, indexDir, newVecs, batchId,
      maxCellRows)
  }

  /** The append body, axis-check-free — for the ingest loop itself
    * (the sequential writer claiming the id). */
  private[graft] def appendToPersistedIvfIndexUnchecked(spark: SparkSession,
      indexDir: String, newVecs: DataFrame, batchId: Long,
      maxCellRows: Long = Dedup.defaultMaxCellRows): Unit =
    appendToPersistedIvfIndexAt(spark, indexDir, resolveIvf(spark, indexDir),
      newVecs, batchId, maxCellRows)

  /** [[appendToPersistedIvfIndex]] against an ALREADY-RESOLVED
    * manifest state — the seam that makes the real in-flight-append
    * race constructible in tests: an appender that resolved its
    * manifest BEFORE a concurrent Lloyd compaction committed lands a
    * delta whose labels (and ledger `gen`) belong to the superseded
    * centroid set; serving and the next compaction recognize the tag
    * and route that delta to the full-read / relabel paths. */
  private[graft] def appendToPersistedIvfIndexAt(spark: SparkSession,
      indexDir: String, st: graft.GenManifest.State, newVecs: DataFrame,
      batchId: Long, maxCellRows: Long = Dedup.defaultMaxCellRows): Unit = {
    val centroids = servingCentroidsCached(spark, indexDir, st)
    val root = s"$indexDir/delta/b$batchId"
    // retract (replay overwrite) → data → ledger commit: the entry is
    // the delta's visibility point, recording the centroid generation
    // that assigned the labels AND the cell list, read from the
    // WRITTEN layout — one listing at ingest time so probes never pay
    // per-cell existence checks. Entries the appender's floor has
    // absorbed are trimmed (a racing compaction's floor can only be
    // HIGHER, so trimming by st.floor is conservative; readers filter
    // by their own resolved floor).
    graft.GenLifecycle.commitDelta(spark, indexDir, st.floor, batchId,
        tomb = false) {
      Storage.writeCellClustered(
        assignToCentroids(centroids, newVecs)
          .withColumn("norm", sqrt(dot(col("embedding"), col("embedding"))))
          .select(col("vec_id"), col("label"), col("embedding"), col("norm")),
        Seq("label"), "vec_id", root, maxCellRows)
      val cells = graft.IndexFs.listNames(spark, root, "label=-?\\d+").sorted
      graft.GenManifest.DeltaEntry(batchId, st.gen, cells)
    }
  }

  /** Explicit read schema of an IVF tombstone delta (a vec-id key
    * list) — NEVER inferred: an empty delete writes only `_SUCCESS`
    * and must read as zero keys. */
  private val ivfTombReadSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "vec_id BIGINT")

  /** RETENTION/TAKEDOWN DELETE — remove vectors from the persisted
    * IVF index without rewriting it: the distinct vec-id key list
    * lands under `delta/t<batchId>` and its ledger entry (kind `t`,
    * written AFTER the data — the commit point, retracted first on a
    * replay overwrite) makes it visible. Log-ordered semantics, the
    * [[graft.ops.Dedup.deleteFromLshIndex]] twin: the delete hits the
    * base generation and every data delta with a LOWER batchId; a
    * data delta appended at a HIGHER id re-adds the vector. Every
    * serving read (plain, int8-reranked, PQ-reranked, batched)
    * subtracts the live tombstone set with a broadcast anti-join; the
    * next [[compactIvfIndex]] drops tombstoned rows physically —
    * corpus, sketch and PQ cells alike, since the codecs re-derive
    * from the folded corpus — and the tombstone retires under the
    * manifest floor once folded data ids cover its own (the
    * orphan-guard floor rule shared with the LSH fold); keep-two GC
    * removes its directory two commits after retirement. Tombstones
    * are label-space INDEPENDENT (key lists, not cells), so a Lloyd
    * re-clustering neither stales nor relabels them. batchId-idempotent
    * like every delta write. Same id-axis and single-writer contract
    * as the LSH delete, ENFORCED the same way: once an
    * `annIngest`/`annIngestCdc` stream owns the axis, a direct call
    * above its last claimed batch id rejects loudly — route takedowns
    * through `StreamOps.annIngestCdc`'s deletions feed. */
  def deleteFromIvfIndex(spark: SparkSession, indexDir: String,
      vecIds: DataFrame, batchId: Long): Unit = {
    graft.GenLifecycle.assertTakedownOnAxis(spark, indexDir, batchId,
      "StreamOps.annIngestCdc")
    deleteFromIvfIndexUnchecked(spark, indexDir, vecIds, batchId)
  }

  /** The takedown body, axis-check-free — for the ingest loop itself
    * (the sequential writer claiming the id). */
  private[graft] def deleteFromIvfIndexUnchecked(spark: SparkSession,
      indexDir: String, vecIds: DataFrame, batchId: Long): Unit = {
    val st = resolveIvf(spark, indexDir)
    // retract → write → commit (the shared discipline): a concurrent
    // probe never subtracts a half-overwritten key list
    graft.GenLifecycle.commitDelta(spark, indexDir, st.floor, batchId,
        tomb = true) {
      vecIds.select(col("vec_id").cast("long").as("vec_id")).distinct()
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$indexDir/delta/t$batchId")
      // key count for the autopilot's tombstone row-mass signal
      // (footer-cheap; see the LSH twin)
      val n = spark.read.schema(ivfTombReadSchema)
        .parquet(s"$indexDir/delta/t$batchId").count()
      graft.GenManifest.DeltaEntry(batchId, st.gen, Nil, tomb = true,
        rows = Some(Seq(n)))
    }
  }

  /** The LIVE tombstone set of an (already floor-filtered) entry
    * list, as `(t_doc, t_del)` with `t_del` the key's highest delete
    * id — None when no tombstone is live (the common case: zero plan
    * change, zero extra reads). Paths are ledger-driven — no
    * existence checks, probe metadata I/O stays O(1) in the
    * backlog. Rows are subtracted per source through
    * [[graft.ops.Dedup.minusTombs]] with the same log-ordered rule as
    * the LSH family. */
  private def ivfTombstones(spark: SparkSession, indexDir: String,
      entries: Seq[graft.GenManifest.DeltaEntry]): Option[DataFrame] = {
    val tombs = entries.filter(_.tomb)
    if (tombs.isEmpty) None
    else Some(tombs.map { e =>
      spark.read.schema(ivfTombReadSchema)
        .parquet(s"$indexDir/delta/t${e.id}")
        .select(col("vec_id").as("t_doc"), lit(e.id).as("t_del"))
    }.reduce(_ unionByName _)
      .groupBy("t_doc").agg(max(col("t_del")).as("t_del")))
  }

  /** The serving view of the committed deltas — the ledger's entries
    * above the resolved manifest's floor, in batch order. ONE ledger
    * read ([[persistIvfIndex]] writes an empty ledger from birth), so
    * O(1) seam calls in the backlog (IndexFsSpec pins this). */
  private def deltaEntriesAbove(spark: SparkSession, indexDir: String,
      st: graft.GenManifest.State): Seq[graft.GenManifest.DeltaEntry] =
    graft.GenManifest.readLedger(spark, indexDir).filter(_.id > st.floor)
      .sortBy(_.id)

  /** Committed deltas above the floor, split into (current-label,
    * stale-label) ids — the maintenance scheduler's view: stale deltas
    * are excluded from the incremental drift math (their labels index
    * a superseded centroid set) and instead justify a fold outright. */
  private[ops] def deltaIdsByLabelSpace(spark: SparkSession, indexDir: String,
      st: graft.GenManifest.State): (Seq[Long], Seq[Long]) = {
    // tombstones are label-space independent key lists: they are
    // neither current nor stale data and must not trip the
    // stale-delta fold signal
    val (cur, stale) = deltaEntriesAbove(spark, indexDir, st)
      .filterNot(_.tomb).partition(_.gen >= st.lgen)
    (cur.map(_.id), stale.map(_.id))
  }

  /** The probed labels' vectors across the base generation and every
    * committed delta above the manifest floor: per root, only the
    * existing `label=` partition directories are listed into a
    * basePath-anchored read (so `label` stays a column for the serving
    * join), then the per-root frames union. All existence checks go
    * through the Hadoop FileSystem seam, so `file:`/`hdfs:`/`s3a:`
    * index roots serve identically. A probe whose labels have no data
    * anywhere degrades to an EMPTY schema-stable frame (zero hits) —
    * matching `nearDupCheck`'s contract — rather than killing a
    * streaming server over one edge-case query. */
  private[graft] def servingCorpus(spark: SparkSession, indexDir: String,
      labels: Seq[Long]): DataFrame =
    servingCorpusAt(spark, indexDir, resolveIvf(spark, indexDir), labels)

  /** [[servingCorpus]] against an ALREADY-RESOLVED manifest state: a
    * probe must resolve the manifest ONCE and use the same state for
    * both the coarse quantizer and the corpus read — resolving twice
    * races a Lloyd compaction (`compactIvfIndex(lloydIters>0)`
    * re-clusters, so gen-N label ids denote different regions in gen
    * N+1; labels picked against one generation's centroids must scan
    * that same generation's cells).
    *
    * A delta whose ledger `gen` predates the live label space (it was
    * appended against since-re-clustered centroids) is read IN FULL
    * instead of label-pruned: its cell
    * layout doesn't correspond to the probed labels, and pruning it
    * would open exactly the recall hole the old "quiesce ingest around
    * Lloyd runs" caveat documented. The extra I/O is one batch-sized
    * delta until the next compaction relabels it — bounded, and only
    * ever present in the append-raced-re-cluster window. */
  private[graft] def servingCorpusAt(spark: SparkSession, indexDir: String,
      st: graft.GenManifest.State, labels: Seq[Long]): DataFrame = {
    // ONE entries read feeds the delta frames AND the tombstone set;
    // base rows all predate every live tombstone (ids > floor), so
    // the base subtracts the whole set (src = floor)
    val entries = deltaEntriesAbove(spark, indexDir, st)
    val tomb = ivfTombstones(spark, indexDir, entries)
    val perRoot = prunedCorpusRead(spark, gdir(indexDir, "corpus", st.gen), labels)
      .map(Dedup.minusTombs(_, tomb, st.floor, "vec_id")).toSeq ++
      servingDeltaFramesFrom(spark, indexDir, st, labels, entries, tomb)
    if (perRoot.isEmpty) emptyCorpus(spark) else perRoot.reduce(_ unionByName _)
  }

  private def emptyCorpus(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      corpusReadSchema)

  private def prunedCorpusRead(spark: SparkSession, root: String,
      labels: Seq[Long]): Option[DataFrame] = {
    val paths = labels.map(l => s"$root/label=$l")
      .filter(p => graft.IndexFs.isDir(spark, p))
    if (paths.isEmpty) None
    else Some(readCorpusRoot(spark, root, paths))
  }

  /** The delta slice of the serving view — shared by the plain probe
    * (unioned with the base cells) and the re-ranked probe's sketch
    * stage (deltas carry full vectors, no persisted sketch; they are
    * batch-sized, so on-the-fly quantization is control-plane cheap).
    * All delta metadata comes from the ledger entries: a current-label
    * delta is pruned to the probed labels it actually WROTE (recorded
    * at ingest — zero per-cell existence checks here), a stale-tagged
    * one is read in full (its cell layout indexes a
    * superseded centroid set — see [[servingCorpusAt]]'s race note). */
  private def servingDeltaFramesAt(spark: SparkSession, indexDir: String,
      st: graft.GenManifest.State, labels: Seq[Long]): Seq[DataFrame] = {
    val entries = deltaEntriesAbove(spark, indexDir, st)
    servingDeltaFramesFrom(spark, indexDir, st, labels, entries,
      ivfTombstones(spark, indexDir, entries))
  }

  /** [[servingDeltaFramesAt]] over ALREADY-READ entries + tombstones —
    * the form probe paths that resolve the ledger once use. Each data
    * delta subtracts only the tombstones ABOVE its own id (a later
    * re-add of a deleted key survives, the log-ordered rule). */
  private def servingDeltaFramesFrom(spark: SparkSession, indexDir: String,
      st: graft.GenManifest.State, labels: Seq[Long],
      entries: Seq[graft.GenManifest.DeltaEntry],
      tomb: Option[DataFrame]): Seq[DataFrame] =
    entries.filterNot(_.tomb).flatMap { e =>
      val root = s"$indexDir/delta/b${e.id}"
      val raw =
        if (e.gen < st.lgen) Some(readCorpusRoot(spark, root, Seq(root)))
        else {
          val hit = labels.map(l => s"label=$l").filter(e.cells.toSet)
          if (hit.isEmpty) None
          else Some(readCorpusRoot(spark, root, hit.map(n => s"$root/$n")))
        }
      raw.map(Dedup.minusTombs(_, tomb, e.id, "vec_id"))
    }

  /** Lloyd refinement over an in-memory index: `iters` rounds of
    * (reassign every vector to its nearest current centroid; recompute
    * per-label means and sufficient stats). This is the RE-CLUSTERING
    * leg of drift repair — [[refreshIvfIndex]]'s single mean-move
    * fixes centroids that lag their own members, but appended mass
    * that straddles two centroids' boundary stays SPLIT across both
    * labels until a reassignment round unifies it (the recall failure
    * the PropertySpec drift arc reproduces). Each round's corpus is
    * materialized releasably so round N+1 never re-runs round N's
    * assignment join. */
  def lloydRefine(index: IvfIndex, iters: Int): IvfIndex =
    lloydRefineReleasable(index, iters)._1

  /** [[lloydRefine]] plus the release handle for the FINAL round's
    * pinned corpus — a caller that persists the result and drops the
    * index (`compactIvfIndex`) must release it, or every Lloyd
    * compaction leaves an O(corpus) pin behind until the
    * nondeterministic ContextCleaner notices. */
  private[graft] def lloydRefineReleasable(index: IvfIndex,
      iters: Int): (IvfIndex, () => Unit) = {
    var cur = index
    var release: () => Unit = () => ()
    for (_ <- 1 to iters) {
      val (reassigned, rel) = graft.Materialize.releasable(
        assignToCentroids(cur.centroids,
          cur.corpus.select(col("vec_id"), col("embedding")))
          .select(col("vec_id"), col("label"), col("embedding")))
      release() // previous round's corpus is consumed
      release = rel
      cur = buildIvfIndexFrom(reassigned)
    }
    (cur, release)
  }

  /** Seed centroids for a k-EXPANSION re-cluster ([[compactIvfIndex]]
    * `expandToK`): the existing k centroids plus `kTarget − k` fresh
    * seeds drawn from the corpus — per current cell, the vectors
    * FARTHEST from their centroid (d2-descending, `vec_id` tie-break:
    * the in-cell points a fatter k would give their own cell), with
    * seats allocated across cells proportionally to cell mass
    * (largest-remainder over the k-row mass table, label tie-break —
    * control-plane arithmetic). Fully DETERMINISTIC — no RNG: the seed
    * set is a function of corpus + centroids alone, so a
    * crash-replayed expansion recomputes the same generation, the same
    * replay contract every other fold obeys. Lloyd refinement follows
    * in the caller: a redundant seed (two far points in one tight
    * clump) separates or empties there, and an emptied cell simply
    * vanishes from the rebuilt label space ([[buildIvfIndexFrom]]
    * groups by assigned label) — the committed k may land slightly
    * under `kTarget`, which the mean-mass signal tolerates by
    * construction. Cost: one label-partitioned window pass over the
    * corpus on NARROW rows — `(label, vec_id, d2)` only, the embedding
    * column dropped BEFORE the rank shuffle and fetched back for the
    * ≤ `kTarget − k` winners by a broadcast hash join (map-side, no
    * second corpus shuffle) — plus a k-row collect; the r13/r14 band
    * ladder's lesson applied preemptively: a per-label sort that
    * carries the full vector payload spills at soak scale where the
    * narrow form never does. New labels extend the existing label
    * space above its max, in the SOURCE label type. */
  private[graft] def expandCentroidSeeds(centroids: DataFrame,
      corpus: DataFrame, kTarget: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = centroids.sparkSession
    val labelType = centroids.schema("label").dataType
    // k rows — control-plane; deterministic order for seat allocation
    val masses = corpus.groupBy(col("label").cast("long").as("label"))
      .agg(count(lit(1)).as("mass")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val k = centroids.count()
    val addK = kTarget - k
    if (addK <= 0 || masses.isEmpty) return centroids
    val total = masses.map(_._2).sum.toDouble
    val floors = masses.map { case (l, m) =>
      (l, m, (addK * m / total).toLong) }
    val quota = scala.collection.mutable.Map(
      floors.map { case (l, _, f) => (l, f) }.toSeq: _*)
    var rem = addK - floors.map(_._3).sum
    // largest fractional remainder first, label tie-break; a quota
    // above a cell's own row count self-caps at the rank filter below
    // (a seed must be a real vector), shorting the committed k — the
    // degenerate kTarget > k + N case only
    for ((l, _, _) <- floors.sortBy { case (l, m, f) =>
        (-(addK * m / total - f), l) } if rem > 0) {
      quota(l) += 1; rem -= 1
    }
    val quotaDf = spark.createDataFrame(
      quota.toSeq.filter(_._2 > 0).sorted).toDF("label", "quota")
    val d2 = aggregate(
      zip_with(col("cent"), col("embedding"),
        (c, x) => (c - x.cast("double")) * (c - x.cast("double"))),
      lit(0.0), (acc, v) => acc + v)
    val w = Window.partitionBy("label")
      .orderBy(col("d2").desc, col("vec_id").asc)
    val winners = corpus
      .select(col("vec_id"), col("label").cast("long").as("label"),
        col("embedding"))
      .join(broadcast(centroids.select(
        col("label").cast("long").as("label"), col("cent"))), "label")
      .select(col("label"), col("vec_id"), d2.as("d2"))
      .withColumn("rn", row_number().over(w))
      .join(broadcast(quotaDf), "label")
      .filter(col("rn") <= col("quota"))
      .select(col("label"), col("vec_id"), col("rn"))
    val seeds = corpus.select(col("vec_id"), col("embedding"))
      .join(broadcast(winners), "vec_id")
    // fresh labels extend the space above its max; the global window
    // runs over ≤ addK rows (≈ √N — control-plane sized)
    val maxLabel = centroids.agg(max(col("label"))).head()
      .getAs[Number](0).longValue
    val gw = Window.orderBy(col("label"), col("rn"))
    val fresh = seeds.select(
      (lit(maxLabel) + row_number().over(gw)).cast(labelType).as("label"),
      col("embedding").cast("array<double>").as("cent"))
    centroids.select(col("label"), col("cent")).unionByName(fresh)
  }

  /** Fold every committed delta into a NEW base generation and commit
    * it by atomic manifest rename ([[graft.GenManifest]] protocol —
    * the versioned-manifest discipline of `statsMergePartitioned`
    * applied to the index base). Crash-recoverable: the next
    * generation is fully written BEFORE the commit, so a crash
    * anywhere leaves the previous manifest serving a complete view and
    * a re-run resumes. A serving read racing compaction resolves ONE
    * manifest and keeps every file it references until two further
    * commits pass (keep-two GC) — never a missing base, never
    * base+stale-delta double counting. A call with no new deltas
    * commits a manifest-only bump that advances the GC horizon.
    *
    * `lloydIters > 0` additionally RE-CLUSTERS while compacting
    * ([[lloydRefine]]): the new generation gets moved centroids,
    * refreshed stats, and reassigned labels — the drift-repair
    * rebuild. With 0 the centroids/stats are carried to the new
    * generation unchanged.
    *
    * `expandToK = Some(kTarget)` re-clusters INTO A LARGER COARSE
    * QUANTIZER (k ∝ √N is the classic sizing: per-probe cost ≈
    * nprobe·N/k + k, minimized near √N — at fixed k a ×100 corpus
    * makes every cell ×100 fatter and probe cost grows linearly):
    * the current centroids are widened with deterministic far-point
    * seeds ([[expandCentroidSeeds]]) and the fold Lloyd-refines
    * against the widened set (`lloydIters` forced ≥ 1). Mixed-k
    * serving through the transition is already correct for free —
    * probes resolve ONE manifest and the centroid relation is
    * per-generation, exactly the rebucket discipline of
    * [[Dedup.rebucketLshIndex]].
    *
    * CONCURRENCY CONTRACT: serving may race any compaction (probes
    * resolve one manifest and use it end to end), and INGEST may race
    * ANY compaction, including a Lloyd re-cluster. Three mechanisms
    * close what used to be the documented "quiesce ingest around
    * `lloydIters > 0` runs" recall window: (1) a delta committed
    * during the fold is caught by a re-listing after the refine and
    * folded in against the NEW centroids (bounded second pass over
    * just those deltas); (2) a delta that lands after even that —
    * or whose append resolved the pre-commit manifest — carries a
    * ledger `gen` below the new label-space generation, and serving
    * reads such deltas IN FULL instead of label-pruned
    * ([[servingCorpusAt]]); (3) the next compaction RELABELS any
    * stale-tagged delta against the then-current centroids before
    * folding, so superseded labels are never baked into a base. No
    * accepted vector is ever invisible to a post-commit probe. */
  def compactIvfIndex(spark: SparkSession, indexDir: String,
      lloydIters: Int = 0,
      maxCellRows: Long = Dedup.defaultMaxCellRows,
      trainPqIters: Int = 0,
      expandToK: Option[Int] = None): Unit =
    compactIvfIndexHooked(spark, indexDir, lloydIters, maxCellRows, () => (),
      trainPqIters, expandToK)

  /** [[compactIvfIndex]] with a test seam fired after the (possibly
    * re-clustering) fold but BEFORE the late-delta re-listing — the
    * deterministic way to land an ingest commit exactly inside the
    * catch-up window. */
  private[graft] def compactIvfIndexHooked(spark: SparkSession,
      indexDir: String, lloydIters: Int, maxCellRows: Long,
      beforeCatchUp: () => Unit, trainPqIters: Int = 0,
      expandToK: Option[Int] = None): Unit = {
    // k-expansion IS a re-cluster: seeds are inert without at least one
    // Lloyd assignment pass (labels/stats would not reflect them)
    val iters =
      if (expandToK.isDefined) math.max(1, lloydIters) else lloydIters
    val st = resolveIvf(spark, indexDir)
    val allEntries = deltaEntriesAbove(spark, indexDir, st)
    val entries = allEntries.filterNot(_.tomb)
    val tombIds = allEntries.filter(_.tomb).map(_.id)
    val deltas = entries.map(_.id)
    if (deltas.nonEmpty || tombIds.nonEmpty || iters > 0) {
      val curCentroids = servingCentroidsAt(spark, indexDir, st)
      // a delta assigned against a superseded label space is RELABELED
      // against the current centroids before folding — a
      // label-preserving compaction must not bake stale labels into
      // the new base
      def readDelta(e: graft.GenManifest.DeltaEntry): DataFrame = {
        val root = s"$indexDir/delta/b${e.id}"
        val raw = readCorpusRoot(spark, root, Seq(root))
        if (e.gen >= st.lgen) raw
        else assignToCentroids(curCentroids,
            raw.select(col("vec_id"), col("embedding")))
          .withColumn("norm", sqrt(dot(col("embedding"), col("embedding"))))
          .select(col("vec_id"), col("embedding"), col("norm"), col("label"))
      }
      // tombstones apply to each source by the same log-ordered rule
      // serving uses (base = floor, deltas at their own id), then
      // retire under the new floor — the fold is where a takedown
      // becomes physical (corpus, sketch and PQ cells alike: the
      // codecs re-derive from the folded corpus below)
      val tomb = ivfTombstones(spark, indexDir, allEntries)
      val base = gdir(indexDir, "corpus", st.gen)
      val all = (Dedup.minusTombs(readCorpusRoot(spark, base, Seq(base)),
          tomb, st.floor, "vec_id") +:
        entries.map(e => Dedup.minusTombs(readDelta(e), tomb, e.id, "vec_id")))
        .reduce(_ unionByName _)
      val gen = st.gen + 1
      // k-expansion: materialize the folded corpus ONCE (the seed scan,
      // the seed window pass and Lloyd's first assignment would
      // otherwise each re-run the base+delta+anti-join lineage), then
      // widen the centroid relation with the deterministic far-point
      // seeds before the refine re-clusters against it
      val (allM, releaseAll) = expandToK match {
        case Some(_) => graft.Materialize.releasable(all)
        case None => (all, () => ())
      }
      val seeded = expandToK match {
        case Some(kt) => expandCentroidSeeds(curCentroids, allM, kt)
        case None => curCentroids
      }
      val idx0 = IvfIndex(
        seeded,
        allM,
        spark.read.parquet(gdir(indexDir, "stats", st.gen)))
      // lloydRefine's corpus already carries norms (buildIvfIndexFrom)
      val (refined, releaseRefined) =
        if (iters > 0) lloydRefineReleasable(idx0, iters)
        else (idx0, () => ())
      try {
        beforeCatchUp()
        // late-delta catch-up: anything committed while the fold ran
        // would otherwise stay stale-tagged (full-read serving) until
        // the next compaction — assign it against the final centroids
        // now and fold it too. Only meaningful when the label space
        // moved; a label-preserving fold leaves late deltas serving
        // normally above the floor. A late TOMBSTONE is never folded
        // here, AND it fences the catch-up: a late data delta above a
        // late tombstone must not fold either — its rows would land
        // in the new base, whose rows the still-live tombstone
        // (id > the raised floor) kills wholesale, resurrecting the
        // delete onto rows that post-date it. Folding only the data
        // deltas BELOW the earliest late tombstone keeps the floor
        // below that tombstone, so it stays live and applies to
        // exactly the rows that predate it.
        val lateAll =
          if (iters > 0)
            deltaEntriesAbove(spark, indexDir, st)
              .filterNot(e => deltas.contains(e.id) && !e.tomb)
              .filterNot(e => tombIds.contains(e.id) && e.tomb)
          else Seq.empty
        val lateTombFence = lateAll.filter(_.tomb).map(_.id)
          .minOption.getOrElse(Long.MaxValue)
        val late = lateAll.filterNot(_.tomb).map(_.id)
          .filter(_ < lateTombFence)
        val idx =
          if (late.isEmpty) refined
          else appendToIvfIndex(refined,
            late.map { id =>
              val root = s"$indexDir/delta/b$id"
              readCorpusRoot(spark, root, Seq(root))
            }.reduce(_ unionByName _).select(col("vec_id"), col("embedding")))
        idx.centroids.write.mode("overwrite").parquet(gdir(indexDir, "centroids", gen))
        // identity for the new generation (a crash-replayed compaction
        // re-uses gen and rewrites the centroids — the fresh token
        // keeps any cache of the torn attempt from surviving)
        writeGenId(spark, gdir(indexDir, "centroids", gen))
        idx.stats.write.mode("overwrite").parquet(gdir(indexDir, "stats", gen))
        Storage.writeCellClustered(
          idx.corpus.select(col("vec_id"), col("label"), col("embedding"), col("norm")),
          Seq("label"), "vec_id", gdir(indexDir, "corpus", gen), maxCellRows)
        // codecs derive from a read-back of the just-written cells so
        // the fold/relabel/Lloyd lineage evaluates ONCE, not three
        // times (invisible until the manifest commit below — see the
        // identical note in persistIvfIndex)
        val committed = readCorpusRoot(spark, gdir(indexDir, "corpus", gen),
          Seq(gdir(indexDir, "corpus", gen)))
        Storage.writeCellClustered(sketchOf(committed),
          Seq("label"), "vec_id", gdir(indexDir, "sketch", gen), maxCellRows)
        // trained codebooks don't stick across compactions: each
        // compaction re-decides (trainPqIters, like lloydIters, is the
        // CALLER's escalation knob) and an untrained compaction falls
        // back to the projection codebook — codes are rewritten either
        // way, so codes/codebook stay generation-coupled
        val cb =
          if (trainPqIters > 0) {
            writePqCodebook(spark, indexDir, gen,
              trainPqCodebookRows(committed, idx.centroids, trainPqIters))
            readPqCodebookDf(spark, indexDir, gen)
          } else {
            // a crash-replayed compaction whose PREVIOUS attempt ran
            // with trainPqIters > 0 left a pqcb_g<gen> behind (gen is
            // reused on replay); the untrained re-run must delete it,
            // or after the commit the leftover codebook would score
            // the projection-encoded codes written below — breaking
            // the codes-always-score-against-their-own-codebook
            // invariant
            graft.IndexFs.delete(spark, gdir(indexDir, "pqcb", gen))
            pqCodebook(idx.centroids)
          }
        Storage.writeCellClustered(pqCodesOfCb(committed, cb),
          Seq("label"), "vec_id", gdir(indexDir, "pq", gen), maxCellRows)
        // tombstones retire only once folded DATA covers their id —
        // retiring one above every folded data id would raise the
        // floor past an in-flight data batch and orphan it when it
        // commits (see compactLshIndex); an uncovered tombstone stays
        // live and idempotently no-ops until lower-id data lands
        val maxData = (deltas ++ late).maxOption.getOrElse(st.floor)
        val folded = deltas ++ late ++ tombIds.filter(_ <= maxData)
        graft.GenManifest.commit(spark, indexDir, st.seq + 1, gen,
          floor = if (folded.nonEmpty) folded.max else st.floor,
          lgen = if (iters > 0) gen else st.lgen)
      } finally { releaseRefined(); releaseAll() }
    } else {
      graft.GenManifest.commit(spark, indexDir, st.seq + 1, st.gen, st.floor,
        lgen = st.lgen)
    }
    graft.GenManifest.gc(spark, indexDir, ivfPrefixes)
  }

  /** Operational stats of a persisted IVF index: `(root, label,
    * n_rows)` per coarse cell across the live base generation and
    * every committed delta — delta backlog says when to compact, cell
    * skew says when to re-cluster or lower `maxCellRows`
    * ([[graft.GenManifest]] cellStats over the `corpus` layout). */
  def ivfIndexStats(spark: SparkSession, indexDir: String): DataFrame =
    graft.GenManifest.cellStats(spark, indexDir, "corpus", Seq("label"),
      corpusReadSchema)

  /** Probe a PERSISTED index by an external vector — the on-disk ANN
    * serving path. The coarse quantizer runs client-side
    * ([[nearestLabels]]), then ONLY the probed `label=` directories are
    * listed into the scan — base corpus plus any committed deltas
    * (path-level pruning by construction — OpsSpec asserts
    * `inputFiles` never leaves the probed cells); exact cosine
    * against the one-row literal query relation runs inside them.
    * Result contract is identical to [[ivfProbeVector]] over the same
    * index. */
  def ivfProbeVectorServed(spark: SparkSession, indexDir: String,
      query: Seq[Float], k: Int = 10, nprobe: Int = 2): DataFrame = {
    // ONE manifest resolve serves both the coarse quantizer and the
    // corpus read — see servingCorpusAt's race note
    val st = resolveIvf(spark, indexDir)
    val labels = nearestLabelsAt(spark, indexDir, st, query, nprobe)
    val corpus = servingCorpusAt(spark, indexDir, st, labels)
    val q = spark.range(1).select(typedLit(query).as("qe"))
      .withColumn("qnorm", sqrt(dot(col("qe"), col("qe"))))
    val cos = dot(col("embedding"), col("qe")) / (col("norm") * col("qnorm"))
    corpus.crossJoin(broadcast(q))
      .select(col("vec_id"), cos.as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), round(col("cos"), 6).as("cos_sim"))
  }

  /** Explicit read schema of the persisted per-generation sketch. */
  private val sketchReadSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "vec_id BIGINT, norm DOUBLE, eamax DOUBLE, q8 ARRAY<INT>, label BIGINT")

  /** [[ivfProbeReranked]] against a PERSISTED index: stage 1 reads the
    * int8 `sketch_g<gen>` cells of the `nprobeWide` nearest labels
    * (~¼ the bytes of the full cells) plus on-the-fly sketches of any
    * committed delta rows; exact cosine then runs through the normal
    * serving read ([[servingCorpusAt]] — base + deltas, stale-delta
    * full reads included) over ONLY the `rerankCells` chosen cells.
    * Full-precision I/O therefore equals a plain
    * `nprobe = rerankCells` served probe (OpsSpec asserts the
    * `inputFiles` containment) while the cells are chosen from an
    * `nprobeWide`-cell sketch net. The pool/cell choice is a control-plane collect of
    * ≤ rerankCells rows, the serving-router pattern of
    * [[nearestLabels]]. */
  def ivfProbeVectorRerankedServed(spark: SparkSession, indexDir: String,
      query: Seq[Float], k: Int = 10, nprobeWide: Int = 8,
      rerankCells: Int = 2, poolSize: Int = 50,
      exclude: Option[Long] = None): DataFrame = {
    def dropExcluded(df: DataFrame): DataFrame =
      exclude.fold(df)(id => df.filter(col("vec_id") =!= id))
    val st = resolveIvf(spark, indexDir)
    val wide = nearestLabelsAt(spark, indexDir, st, query, nprobeWide)
    val q = spark.range(1).select(typedLit(query).as("qe"))
      .withColumn("qnorm", sqrt(dot(col("qe"), col("qe"))))
      .withColumn("qamax", amaxCol(col("qe")))
      .withColumn("q8q", q8Col(col("qe"), col("qamax")))
    // base (persisted sketch cells) plus delta sketches,
    // tombstone-subtracted — the shared stage-1
    // builder the batched scaffold uses too
    val sketches = sketchFramesAt(spark, indexDir, st, wide)
    val cells: Seq[Long] =
      if (sketches.isEmpty) wide.take(rerankCells)
      else dropExcluded(sketches.reduce(_ unionByName _))
        .crossJoin(broadcast(q.select("qamax", "q8q", "qnorm")))
        .select(col("vec_id"), col("label"), approxCos.as("ap"))
        .orderBy(col("ap").desc, col("vec_id")).limit(poolSize)
        .groupBy("label").agg(max(col("ap")).as("m"))
        .orderBy(col("m").desc, col("label")).limit(rerankCells)
        .collect().map(_.getAs[Number]("label").longValue).toSeq
    val corpus = dropExcluded(servingCorpusAt(spark, indexDir, st, cells))
    val cos = dot(col("embedding"), col("qe")) / (col("norm") * col("qnorm"))
    corpus.crossJoin(broadcast(q.select("qe", "qnorm")))
      .select(col("vec_id"), cos.as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), round(col("cos"), 6).as("cos_sim"))
  }

  /** Explicit read schema of the persisted per-generation PQ codes. */
  private val pqReadSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "vec_id BIGINT, pqc ARRAY<INT>, label BIGINT")

  /** The live generation's persisted PQ-code cells (`pq_g`, written
    * by persist and every compaction before the manifest commit) for a
    * set of probed labels, tombstone-subtracted. */
  private def pqBaseFrame(spark: SparkSession, indexDir: String,
      st: graft.GenManifest.State, labels: Seq[Long],
      tomb: Option[DataFrame]): Option[DataFrame] =
    codecCellRead(spark, gdir(indexDir, "pq", st.gen), labels, pqReadSchema)
      .map(Dedup.minusTombs(_, tomb, st.floor, "vec_id"))

  /** The probed label cells of a persisted codec generation
    * (`sketch_g`/`pq_g`) — None when no probed label has a cell. The
    * generation directory itself is required: its absence means the
    * layout lost a committed codec, which fails loudly. */
  private def codecCellRead(spark: SparkSession, root: String,
      labels: Seq[Long], schema: org.apache.spark.sql.types.StructType)
      : Option[DataFrame] = {
    if (!graft.IndexFs.isDir(spark, root))
      throw new IllegalStateException(s"missing $root: the live generation's codec cells")
    val paths = labels.map(l => s"$root/label=$l")
      .filter(p => graft.IndexFs.isDir(spark, p))
    if (paths.isEmpty) None
    else Some(graft.IndexFs.withCellListing(spark) {
      spark.read.schema(schema).option("basePath", root).parquet(paths: _*)
    })
  }

  /** [[ivfProbeVectorRerankedServed]] with the PQ codec in stage 1:
    * reads the `pq_g<gen>` cells of the `nprobeWide` nearest labels
    * (8 bit-packed codes + a norm per row — ⅛ the int8 sketch's
    * bytes) and scores them against the query's LUT over the LIVE
    * generation's centroid codebook; exact cosine then runs through
    * the normal serving read over only the `rerankCells` chosen
    * cells, so full-precision I/O again equals a plain
    * `nprobe = rerankCells` probe. Delta rows are scored exactly in
    * stage 1 (see the inline note — avoids the PQ out-of-vocabulary
    * freshness hole). Persisted codes were written against
    * their OWN generation's centroids, which are the live ones by
    * construction: a codebook change is a compaction, and compaction
    * rewrites `pq_g` with the new generation. */
  def ivfProbeVectorRerankedServedPq(spark: SparkSession, indexDir: String,
      query: Seq[Float], k: Int = 10, nprobeWide: Int = 8,
      rerankCells: Int = 2, poolSize: Int = 50,
      exclude: Option[Long] = None): DataFrame = {
    def dropExcluded(df: DataFrame): DataFrame =
      exclude.fold(df)(id => df.filter(col("vec_id") =!= id))
    val st = resolveIvf(spark, indexDir)
    val wide = nearestLabelsAt(spark, indexDir, st, query, nprobeWide)
    val centroids = servingCentroidsCached(spark, indexDir, st)
    val cb = servingPqCodebookAt(spark, indexDir, st, centroids)
    val q = spark.range(1).select(typedLit(query).as("qe"))
      .withColumn("qnorm", sqrt(dot(col("qe"), col("qe"))))
      .crossJoin(broadcast(cb))
      .withColumn("lut", pqLutCol(col("qe")))
      .select("qe", "qnorm", "lut")
    val entries = deltaEntriesAbove(spark, indexDir, st)
    val tomb = ivfTombstones(spark, indexDir, entries)
    val baseAp = pqBaseFrame(spark, indexDir, st, wide, tomb).map(df =>
      dropExcluded(df)
      .crossJoin(broadcast(q.select("lut", "qnorm")))
      .select(col("vec_id"), col("label"), approxCosPq.as("ap")))
    // Delta rows are scored EXACTLY in stage 1: they are batch-sized
    // and already read at full precision, so PQ-encoding them in
    // flight would both waste the read and blind the probe to any
    // out-of-vocabulary batch (a direction the codebook has never
    // seen reconstructs onto the nearest codeword and under-scores)
    // until the next codebook-retraining compaction — the freshness
    // hole the int8 codec's per-vector scales don't have.
    val deltaAp = servingDeltaFramesFrom(spark, indexDir, st, wide, entries, tomb)
      .map(df => dropExcluded(df)
        .crossJoin(broadcast(q.select("qe", "qnorm")))
        .select(col("vec_id"), col("label"),
          (dot(col("embedding"), col("qe")) /
            (col("norm") * col("qnorm"))).as("ap")))
    val apFrames = baseAp.toSeq ++ deltaAp
    val cells: Seq[Long] =
      if (apFrames.isEmpty) wide.take(rerankCells)
      else apFrames.reduce(_ unionByName _)
        .orderBy(col("ap").desc, col("vec_id")).limit(poolSize)
        .groupBy("label").agg(max(col("ap")).as("m"))
        .orderBy(col("m").desc, col("label")).limit(rerankCells)
        .collect().map(_.getAs[Number]("label").longValue).toSeq
    val corpus = dropExcluded(servingCorpusAt(spark, indexDir, st, cells))
    val cos = dot(col("embedding"), col("qe")) / (col("norm") * col("qnorm"))
    corpus.crossJoin(broadcast(q.select("qe", "qnorm")))
      .select(col("vec_id"), cos.as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), round(col("cos"), 6).as("cos_sim"))
  }

  /** Stage-1 sketch relations for a set of probed labels: the
    * persisted `sketch_g` cells of the live generation (written by
    * persist and every compaction before the manifest commit) plus
    * on-the-fly sketches of committed delta rows. */
  private def sketchFramesAt(spark: SparkSession, indexDir: String,
      st: graft.GenManifest.State, labels: Seq[Long]): Seq[DataFrame] = {
    val entries = deltaEntriesAbove(spark, indexDir, st)
    val tomb = ivfTombstones(spark, indexDir, entries)
    val base = codecCellRead(spark, gdir(indexDir, "sketch", st.gen), labels,
      sketchReadSchema)
    // tombstones apply to stage 1 too — a deleted vector must not
    // hold a candidate-pool slot (the exact stage would drop it from
    // the OUTPUT either way, but it could displace a live hit)
    base.map(Dedup.minusTombs(_, tomb, st.floor, "vec_id")).toSeq ++
      servingDeltaFramesFrom(spark, indexDir, st, labels, entries, tomb)
        .map(sketchOf)
  }

  /** Batched serving form of the re-ranked probe — ONE relational plan
    * serves a whole micro-batch of `(query_id, qe)` queries (the
    * [[graft.streaming.StreamOps.annServe]] discipline applied to the
    * re-ranking leg): broadcast centroid assignment picks each query's
    * `nprobeWide` cells, the union of touched cells' int8 sketches is
    * scored per query (window top-`poolSize`), each query's best
    * `rerankCells` cells are chosen, and exact cosine + top-k runs
    * only inside the union of chosen cells, per-query-restricted by a
    * broadcast (query_id, label) join. The two collects (touched and
    * chosen label lists) are control-plane: bounded by
    * |batch| × nprobeWide, never corpus-sized. Returns the result
    * frame plus a release handle for the pinned probe/cell relations —
    * the caller releases after its write/collect lands. */
  private[graft] def ivfProbeBatchRerankedServedReleasable(spark: SparkSession,
      indexDir: String, batch: DataFrame, k: Int = 10, nprobeWide: Int = 8,
      rerankCells: Int = 2, poolSize: Int = 50): (DataFrame, () => Unit) =
    batchRerankScaffold(spark, indexDir, batch, k, nprobeWide, rerankCells,
      poolSize,
      // the int8 codec's per-query columns: quantization scale + codes
      queryCols = df => df
        .withColumn("qamax", amaxCol(col("qe")))
        .withColumn("q8q", q8Col(col("qe"), col("qamax"))),
      // stage 1: persisted sketch cells (deltas sketched in flight),
      // each scored against its queries' int8 codes
      stage1 = (st, probes, touched, _, _) =>
        sketchFramesAt(spark, indexDir, st, touched).map(df =>
          df.join(broadcast(
              probes.select("query_id", "label", "qamax", "q8q", "qnorm")),
              Seq("label"))
            .select(col("query_id"), col("vec_id"), col("label"),
              approxCos.as("ap"))))

  /** [[ivfProbeBatchRerankedServedReleasable]] with the PQ codec in
    * stage 1 — same scaffold, with the per-query asymmetric-distance
    * LUTs computed as a |batch|-row broadcast relation over the
    * one-row codebook. Base cells are scored from the persisted `pq_g`
    * codes (8 bit-packed codes per row); delta rows are scored exactly
    * (the single-probe out-of-vocabulary argument, unchanged by
    * batching). */
  private[graft] def ivfProbeBatchRerankedServedPqReleasable(spark: SparkSession,
      indexDir: String, batch: DataFrame, k: Int = 10, nprobeWide: Int = 8,
      rerankCells: Int = 2, poolSize: Int = 50): (DataFrame, () => Unit) =
    batchRerankScaffold(spark, indexDir, batch, k, nprobeWide, rerankCells,
      poolSize,
      queryCols = identity,
      stage1 = (st, probes, touched, centroids, qrel) => {
        val cb = servingPqCodebookAt(spark, indexDir, st, centroids)
        val entries = deltaEntriesAbove(spark, indexDir, st)
        val tomb = ivfTombstones(spark, indexDir, entries)
        // per-query LUT from the ONE-row-per-query relation, not from
        // `probes`: the old `probes.select(..qe..).distinct()` hashed
        // and exchanged the query embedding ×nprobeWide rows per query
        // just to collapse them back — the last payload-carrying
        // exchange in the serve path (the narrow-rank discipline's
        // tail; VERDICT r15 item 5)
        val qlut = qrel.select("query_id", "qe", "qnorm")
          .crossJoin(broadcast(cb))
          .select(col("query_id"), pqLutCol(col("qe")).as("lut"), col("qnorm"))
        val baseAp = pqBaseFrame(spark, indexDir, st, touched, tomb).map(df =>
          df.join(broadcast(probes.select("query_id", "label")), Seq("label"))
            .join(broadcast(qlut), Seq("query_id"))
            .select(col("query_id"), col("vec_id"), col("label"),
              approxCosPq.as("ap")))
        // deltas are batch-sized and read at full precision anyway:
        // score them EXACTLY so an out-of-vocabulary batch is never
        // blinded by the codebook (see ivfProbeVectorRerankedServedPq)
        val deltaAp = servingDeltaFramesFrom(spark, indexDir, st, touched,
            entries, tomb).map(df =>
          df.join(broadcast(probes.select("query_id", "label", "qe", "qnorm")),
              Seq("label"))
            .select(col("query_id"), col("vec_id"), col("label"),
              (dot(col("embedding"), col("qe")) /
                (col("norm") * col("qnorm"))).as("ap")))
        baseAp.toSeq ++ deltaAp
      })

  /** The ONE batched re-ranked serving scaffold both codecs share
    * (they differ ONLY in stage 1): broadcast centroid assignment
    * picks each query's `nprobeWide` cells, `stage1` scores the
    * touched cells' members per query — returning `(query_id, vec_id,
    * label, ap)` frames — then each query's best `rerankCells` cells
    * are chosen (window top-`poolSize` → per-cell max → window
    * top-`rerankCells`) and exact cosine + top-k runs only inside the
    * union of chosen cells, per-query-restricted by a broadcast
    * (query_id, label) join. The two collects (touched and chosen
    * label lists) are control-plane: bounded by |batch| × nprobeWide,
    * never corpus-sized. Returns the result frame plus a release
    * handle for the pinned probe/cell relations — the caller releases
    * after its write/collect lands.
    *
    * `queryCols` adds the codec's per-query columns to the probe
    * relation before the centroid assignment (int8: scale + codes;
    * PQ: none — its LUT relation derives inside stage1). `stage1`
    * receives the resolved manifest state, the pinned probe relation,
    * the touched-label list, the serving centroids and the
    * one-row-per-query payload relation (qrel — the source for any
    * per-query derivation, so no stage ever re-distincts the payload
    * out of `probes`); an empty frame list means "nothing to score"
    * and yields the empty result. */
  private def batchRerankScaffold(spark: SparkSession, indexDir: String,
      batch: DataFrame, k: Int, nprobeWide: Int, rerankCells: Int,
      poolSize: Int,
      queryCols: DataFrame => DataFrame,
      stage1: (graft.GenManifest.State, DataFrame, IndexedSeq[Long], DataFrame,
        DataFrame) => Seq[DataFrame]): (DataFrame, () => Unit) = {
    import org.apache.spark.sql.expressions.Window
    val resultSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "query_id BIGINT, vec_id BIGINT, cos_sim DOUBLE")
    def emptyResult = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], resultSchema)
    val st = resolveIvf(spark, indexDir)
    val centroids = servingCentroidsCached(spark, indexDir, st)
    val d2 = aggregate(
      zip_with(col("cent"), col("qe"),
        (c, x) => (c - x.cast("double")) * (c - x.cast("double"))),
      lit(0.0), (acc, v) => acc + v)
    val wq = Window.partitionBy("query_id").orderBy(col("d2"), col("label"))
    // The per-query centroid rank runs on NARROW rows: the old shape
    // shipped the query payload (qe + the codec's per-query columns)
    // through the rank exchange and sort ×k — k-multiplied fat bytes
    // that sort-spill once batches are table-sized and k tracks √N
    // (the k-expansion arc makes both true). Now (query_id, label, d2)
    // ranks, and the payload joins back onto the ≤ nprobeWide winners
    // per query, crossing exactly one exchange un-multiplied — the
    // narrow-rank discipline of expandCentroidSeeds/the samplers.
    val qrel = queryCols(batch.select(col("query_id"), col("qe"))
      .withColumn("qnorm", sqrt(dot(col("qe"), col("qe")))))
    val ranked = batch.select(col("query_id"), col("qe"))
      .crossJoin(broadcast(centroids))
      .select(col("query_id"), col("label"), d2.as("d2"))
      .withColumn("rk", row_number().over(wq)).filter(col("rk") <= nprobeWide)
      .select(col("query_id"), col("label"))
    val probes = ranked.join(qrel, Seq("query_id")).persist()
    val releaseProbes = () => { probes.unpersist(); () }
    val touched = probes.select("label").distinct()
      .collect().map(_.getAs[Number](0).longValue).sorted.toIndexedSeq
    if (touched.isEmpty) return (emptyResult, releaseProbes)
    val apFrames = stage1(st, probes, touched, centroids, qrel)
    if (apFrames.isEmpty) return (emptyResult, releaseProbes)
    val wp = Window.partitionBy("query_id").orderBy(col("ap").desc, col("vec_id"))
    val wc = Window.partitionBy("query_id").orderBy(col("m").desc, col("label"))
    val cells = apFrames.reduce(_ unionByName _)
      .withColumn("rk", row_number().over(wp)).filter(col("rk") <= poolSize)
      .groupBy("query_id", "label").agg(max(col("ap")).as("m"))
      .withColumn("rk", row_number().over(wc)).filter(col("rk") <= rerankCells)
      .select("query_id", "label")
      .persist()
    val release = () => { cells.unpersist(); probes.unpersist(); () }
    val chosen = cells.select("label").distinct()
      .collect().map(_.getAs[Number](0).longValue).sorted.toIndexedSeq
    if (chosen.isEmpty) return (emptyResult, release)
    val corpus = servingCorpusAt(spark, indexDir, st, chosen)
    val cos = dot(col("embedding"), col("qe")) / (col("norm") * col("qnorm"))
    val wk = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    val out = corpus
      .join(broadcast(cells), Seq("label")) // each query scores ITS cells only
      // qrel is already one row per query: joining it directly avoids
      // the distinct's exchange+hash-agg keyed on the qe payload
      .join(broadcast(qrel.select("query_id", "qe", "qnorm")),
        Seq("query_id"))
      .select(col("query_id"), col("vec_id"), cos.as("cos"))
      .withColumn("rk", row_number().over(wk)).filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id"), round(col("cos"), 6).as("cos_sim"))
    (out, release)
  }

  /** Per-query-id IVF oracle block (the SQL mirror of one `ivfProbe`
    * against freshly computed centroids — SQL has no index lifetime,
    * which agrees because the means are identical). */
  private def ivfOracle(q: Long): String =
    s"""WITH dims AS (SELECT unnest(generate_series(1, 64)) AS dim),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = $q),
       |cent AS (SELECT label, dim, avg(CAST(embedding[dim] AS DOUBLE)) AS cv
       |         FROM embeddings CROSS JOIN dims GROUP BY label, dim),
       |qd AS (SELECT dim, CAST(qe[dim] AS DOUBLE) AS qv FROM q CROSS JOIN dims),
       |dist AS (SELECT c.label, SUM((c.cv - qd.qv) * (c.cv - qd.qv)) AS d2
       |         FROM cent c JOIN qd ON qd.dim = c.dim GROUP BY c.label),
       |top2 AS (SELECT label FROM dist ORDER BY d2, label LIMIT 2)
       |SELECT CAST($q AS BIGINT) AS query_id, e.vec_id, ROUND(${dd("e.embedding", "q.qe")}
       |  / (sqrt(${dd("e.embedding", "e.embedding")}) * sqrt(${dd("q.qe", "q.qe")})), 6) AS cos_sim
       |FROM embeddings e JOIN top2 ON e.label = top2.label, q
       |WHERE e.vec_id <> $q
       |ORDER BY ${dd("e.embedding", "q.qe")}
       |  / (sqrt(${dd("e.embedding", "e.embedding")}) * sqrt(${dd("q.qe", "q.qe")})) DESC, e.vec_id
       |LIMIT 10""".stripMargin

  /** IVF-style ANN: coarse quantization by the `label` cluster column —
    * the query probes only the 2 nearest clusters, exact cosine runs
    * inside them. Composed as buildIvfIndex (once) + ivfProbe (per
    * query). */
  val simTopkIvf = QueryDef(
    "sim_topk_ivf",
    Some(s"""SELECT vec_id, cos_sim FROM (${ivfOracle(0)})
            |ORDER BY cos_sim DESC, vec_id""".stripMargin),
    (spark, dir) => ivfProbe(buildIvfIndex(spark, dir), queryVecId = 0)
      // outer sort on the ROUNDED value: the probe's internal top-k
      // order is by unrounded cosine, which could disagree with the
      // oracle's outer sort on rounded ties
      .orderBy(col("cos_sim").desc, col("vec_id")))

  /** The re-ranking leg as an oracle-checked query: sketch stage over
    * the 5 nearest of the 10 cells, exact cosine inside the 2
    * sketch-chosen cells. The oracle replays the whole chain —
    * centroids, wide set, int8 quantization (floor-based, no ROUND),
    * integer sketch dot, pool cut, cell choice, exact top-10 — in
    * DuckDB SQL, so the two engines must agree on every intermediate
    * ordering, not just the final cosines. */
  val simTopkIvfRerank = QueryDef(
    "sim_topk_ivf_rerank",
    Some {
      val q8e = "list_transform(es.embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / es.eamax + 0.5) AS BIGINT))"
      s"""WITH dims AS (SELECT unnest(generate_series(1, 64)) AS dim),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |cent AS (SELECT label, dim, avg(CAST(embedding[dim] AS DOUBLE)) AS cv
         |         FROM embeddings CROSS JOIN dims GROUP BY label, dim),
         |qd AS (SELECT dim, CAST(qe[dim] AS DOUBLE) AS qv FROM q CROSS JOIN dims),
         |dist AS (SELECT c.label, SUM((c.cv - qd.qv) * (c.cv - qd.qv)) AS d2
         |         FROM cent c JOIN qd ON qd.dim = c.dim GROUP BY c.label),
         |wide AS (SELECT label FROM dist ORDER BY d2, label LIMIT 5),
         |qq AS (SELECT qe,
         |         greatest(list_max(list_transform(qe, x -> abs(CAST(x AS DOUBLE)))), 1e-30) AS qamax,
         |         sqrt(${dd("qe", "qe")}) AS qnorm FROM q),
         |qq8 AS (SELECT qe, qamax, qnorm,
         |          list_transform(qe, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / qamax + 0.5) AS BIGINT)) AS q8
         |        FROM qq),
         |es AS (SELECT e.vec_id, e.label, e.embedding,
         |         greatest(list_max(list_transform(e.embedding, x -> abs(CAST(x AS DOUBLE)))), 1e-30) AS eamax,
         |         sqrt(${dd("e.embedding", "e.embedding")}) AS enorm
         |       FROM embeddings e JOIN wide ON e.label = wide.label
         |       WHERE e.vec_id <> 0),
         |ap AS (SELECT es.vec_id, es.label,
         |         (((es.eamax * qq8.qamax) / 16129.0) *
         |          CAST(list_reduce(list_transform(generate_series(1, 64),
         |            i -> $q8e[i] * qq8.q8[i]), (x, y) -> x + y) AS DOUBLE))
         |         / (es.enorm * qq8.qnorm) AS ap
         |       FROM es, qq8),
         |pool AS (SELECT vec_id, label, ap FROM ap ORDER BY ap DESC, vec_id LIMIT 50),
         |cells AS (SELECT label FROM (SELECT label, MAX(ap) AS m FROM pool GROUP BY label)
         |          ORDER BY m DESC, label LIMIT 2)
         |SELECT vec_id, cos_sim FROM (
         |  SELECT e.vec_id, ROUND(${dd("e.embedding", "q.qe")}
         |    / (sqrt(${dd("e.embedding", "e.embedding")}) * sqrt(${dd("q.qe", "q.qe")})), 6) AS cos_sim
         |  FROM embeddings e JOIN cells ON e.label = cells.label, q
         |  WHERE e.vec_id <> 0
         |  ORDER BY ${dd("e.embedding", "q.qe")}
         |    / (sqrt(${dd("e.embedding", "e.embedding")}) * sqrt(${dd("q.qe", "q.qe")})) DESC, e.vec_id
         |  LIMIT 10)
         |ORDER BY cos_sim DESC, vec_id""".stripMargin
    },
    (spark, dir) => ivfProbeReranked(buildIvfIndex(spark, dir), queryVecId = 0,
      k = 10, nprobeWide = 5, rerankCells = 2, poolSize = 50)
      .orderBy(col("cos_sim").desc, col("vec_id")))

  /** Build-once / probe-many, oracle-checked: one index serves a batch
    * of query vectors; the oracle has to recompute centroids per query
    * (no index lifetime in SQL), the Spark side builds them once —
    * identical answers, amortized cost. At cluster scale this is the
    * serving pattern: the checkpointed index is reused across the
    * whole query batch. */
  val simTopkIvfMulti: QueryDef = {
    val queryIds = Seq(0L, 7L, 13L)
    QueryDef(
      "sim_topk_ivf_multi",
      Some(queryIds.map(q => s"SELECT * FROM (${ivfOracle(q)})")
        .mkString("", "\nUNION ALL\n", "\nORDER BY query_id, cos_sim DESC, vec_id")),
      (spark, dir) => {
        val idx = buildIvfIndex(spark, dir) // ONE build for the whole batch
        queryIds.map(q => ivfProbe(idx, q).withColumn("query_id", lit(q)))
          .reduce(_ unionByName _)
          .select(col("query_id"), col("vec_id"), col("cos_sim"))
          .orderBy(col("query_id"), col("cos_sim").desc, col("vec_id"))
      })
  }

  /** Two-batch incremental IVF, oracle-checked: the index is built on
    * the base corpus (vec_id % 5 <> 0), the remaining fifth arrives as
    * a second batch and is APPENDED via nearest-centroid assignment —
    * no re-clustering — then the probe runs over the grown index. The
    * oracle mirrors every leg in SQL: base-only centroids, per-appended
    * argmin assignment with the same (d2, label) tie-break, union
    * corpus, top-2 cluster probe. The modulo split is SF-independent
    * (every scale factor has both batches). */
  val simTopkIvfIncremental = QueryDef(
    "sim_topk_ivf_incremental",
    Some(s"""WITH dims AS (SELECT unnest(generate_series(1, 64)) AS dim),
            |base AS (SELECT * FROM embeddings WHERE vec_id % 5 <> 0),
            |app AS (SELECT * FROM embeddings WHERE vec_id % 5 = 0),
            |cent AS (SELECT label, dim, avg(CAST(embedding[dim] AS DOUBLE)) AS cv
            |         FROM base CROSS JOIN dims GROUP BY label, dim),
            |adist AS (SELECT a.vec_id, c.label,
            |            SUM((c.cv - CAST(a.embedding[c.dim] AS DOUBLE))
            |              * (c.cv - CAST(a.embedding[c.dim] AS DOUBLE))) AS d2
            |          FROM app a CROSS JOIN cent c GROUP BY a.vec_id, c.label),
            |assign AS (SELECT vec_id, label FROM (
            |             SELECT vec_id, label,
            |               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, label) AS rn
            |             FROM adist) WHERE rn = 1),
            |corpus AS (SELECT vec_id, label, embedding FROM base
            |           UNION ALL
            |           SELECT a.vec_id, s.label, a.embedding
            |           FROM app a JOIN assign s ON s.vec_id = a.vec_id),
            |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
            |qd AS (SELECT dim, CAST(qe[dim] AS DOUBLE) AS qv FROM q CROSS JOIN dims),
            |dist AS (SELECT c.label, SUM((c.cv - qd.qv) * (c.cv - qd.qv)) AS d2
            |         FROM cent c JOIN qd ON qd.dim = c.dim GROUP BY c.label),
            |top2 AS (SELECT label FROM dist ORDER BY d2, label LIMIT 2),
            |hits AS (
            |  SELECT e.vec_id, ROUND(${dd("e.embedding", "q.qe")}
            |    / (sqrt(${dd("e.embedding", "e.embedding")}) * sqrt(${dd("q.qe", "q.qe")})), 6) AS cos_sim
            |  FROM corpus e JOIN top2 ON e.label = top2.label, q
            |  WHERE e.vec_id <> 0
            |  ORDER BY ${dd("e.embedding", "q.qe")}
            |    / (sqrt(${dd("e.embedding", "e.embedding")}) * sqrt(${dd("q.qe", "q.qe")})) DESC, e.vec_id
            |  LIMIT 10)
            |SELECT vec_id, cos_sim FROM hits
            |ORDER BY cos_sim DESC, vec_id""".stripMargin),
    (spark, dir) => {
      val emb = Tables.table(spark, dir, "embeddings")
      val idx = appendToIvfIndex(
        buildIvfIndexFrom(emb.filter(col("vec_id") % 5 =!= 0)),
        emb.filter(col("vec_id") % 5 === 0))
      ivfProbe(idx, queryVecId = 0)
        .orderBy(col("cos_sim").desc, col("vec_id"))
    })

  /** IVF probe by EXTERNAL literal vector, oracle-checked: the query
    * embedding (a deterministic quarter-step ramp, exactly
    * representable in binary float on both engines) exists only as a
    * literal — no corpus row backs it, mirroring real ANN serving
    * where the query arrives from outside. The oracle rebuilds the
    * same centroid means and probes the same two clusters with the
    * literal spelled in SQL. OpsSpec additionally proves the external
    * probe at nprobe = all-clusters equals brute-force top-k on the
    * same vector. */
  val simTopkIvfExternal = QueryDef(
    "sim_topk_ivf_external",
    Some(s"""WITH dims AS (SELECT unnest(generate_series(1, 64)) AS dim),
            |q AS (SELECT list_transform(generate_series(1, 64),
            |        i -> CAST(((i - 1) % 7 - 3) / 4.0 AS FLOAT)) AS qe),
            |cent AS (SELECT label, dim, avg(CAST(embedding[dim] AS DOUBLE)) AS cv
            |         FROM embeddings CROSS JOIN dims GROUP BY label, dim),
            |qd AS (SELECT dim, CAST(qe[dim] AS DOUBLE) AS qv FROM q CROSS JOIN dims),
            |dist AS (SELECT c.label, SUM((c.cv - qd.qv) * (c.cv - qd.qv)) AS d2
            |         FROM cent c JOIN qd ON qd.dim = c.dim GROUP BY c.label),
            |top2 AS (SELECT label FROM dist ORDER BY d2, label LIMIT 2),
            |hits AS (
            |  SELECT e.vec_id, ROUND(${dd("e.embedding", "q.qe")}
            |    / (sqrt(${dd("e.embedding", "e.embedding")}) * sqrt(${dd("q.qe", "q.qe")})), 6) AS cos_sim
            |  FROM embeddings e JOIN top2 ON e.label = top2.label, q
            |  ORDER BY ${dd("e.embedding", "q.qe")}
            |    / (sqrt(${dd("e.embedding", "e.embedding")}) * sqrt(${dd("q.qe", "q.qe")})) DESC, e.vec_id
            |  LIMIT 10)
            |SELECT vec_id, cos_sim FROM hits
            |ORDER BY cos_sim DESC, vec_id""".stripMargin),
    (spark, dir) => {
      val qvec = Array.tabulate(64)(i => (((i % 7) - 3) / 4.0).toFloat).toSeq
      ivfProbeVector(buildIvfIndex(spark, dir), qvec)
        .orderBy(col("cos_sim").desc, col("vec_id"))
    })

  /** The deterministic literal query vector shared by the external /
    * served / serve-only probes and their common oracle. */
  private val externalQueryVec: Seq[Float] =
    Array.tabulate(64)(i => (((i % 7) - 3) / 4.0).toFloat).toSeq

  /** One persisted IVF index per sfDir per session, built lazily —
    * the serve-only query's amortized index; dirs registered for
    * JVM-exit cleanup. */
  private val cachedIndexDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def cachedIvfIndexDir(spark: SparkSession, dir: String): String =
    cachedIndexDirs.computeIfAbsent(dir, _ => {
      val indexDir = graft.TempDirs.create("ivf-serve-cache")
      persistIvfIndex(buildIvfIndex(spark, dir), indexDir)
      indexDir
    })

  /** The PERSISTED-index serving leg, oracle-checked end to end:
    * build → [[persistIvfIndex]] (label-partitioned corpus on disk) →
    * [[ivfProbeVectorServed]] with the same literal query vector as
    * `sim_topk_ivf_external`. Same result contract, same oracle — what
    * changes is the execution shape: the probe reads only its two
    * `label=` directories instead of holding the corpus in the session
    * (PlanSpec/OpsSpec pin the pruning).
    *
    * TIMING CONTRACT (deliberate): this form rebuilds AND persists the
    * index inside the measured query — its bench number is the index
    * lifecycle end to end. The serving cost alone is
    * `sim_topk_ivf_serve_only`. */
  val simTopkIvfServed = QueryDef(
    "sim_topk_ivf_served",
    simTopkIvfExternal.oracle,
    (spark, dir) => {
      val indexDir = graft.TempDirs.create("ivf-serve")
      persistIvfIndex(buildIvfIndex(spark, dir), indexDir)
      ivfProbeVectorServed(spark, indexDir, externalQueryVec)
        .orderBy(col("cos_sim").desc, col("vec_id"))
    })

  /** [[simTopkIvfServed]] with a RETENTION DELETE in the lifecycle —
    * the IVF takedown path oracle-checked end to end: the index is
    * persisted from the full corpus, every `vec_id % 5 == 1` vector
    * is tombstone-deleted ([[deleteFromIvfIndex]]), and the same
    * external probe runs against the shrunk index. The oracle keeps
    * the centroid means over the FULL corpus (they are a build-time
    * artifact the delete never rewrites — only a re-clustering fold
    * would) and excludes the deleted ids from the candidate side
    * only. A tombstone that leaked into serving (or over-deleted)
    * flips rows/hash here. */
  val simTopkIvfAfterDelete = QueryDef(
    "sim_topk_ivf_after_delete",
    graft.QueryDef.replacedOracle(simTopkIvfExternal.oracle,
      "FROM embeddings e JOIN top2 ON e.label = top2.label, q",
      "FROM embeddings e JOIN top2 ON e.label = top2.label, q\n  WHERE e.vec_id % 5 <> 1"),
    (spark, dir) => {
      val indexDir = graft.TempDirs.create("ivf-serve-del")
      persistIvfIndex(buildIvfIndex(spark, dir), indexDir)
      deleteFromIvfIndex(spark, indexDir,
        Tables.table(spark, dir, "embeddings")
          .filter(col("vec_id") % 5 === 1).select("vec_id"), batchId = 1L)
      ivfProbeVectorServed(spark, indexDir, externalQueryVec)
        .orderBy(col("cos_sim").desc, col("vec_id"))
    })

  /** The CDC-envelope → IVF-takedown COMPOSITION, oracle-checked —
    * the LSH family's `dedup_against_index_cdc_delete` twin (query
    * 149's pattern) on the vector side: the deletion keys arrive as
    * RAW Debezium connector records (op `d`, key in the before-image
    * — the reference's delete path, `app/dwd/BaseDbApp.java:43`
    * consuming `app/function/MyDeserializationSchema.java`
    * envelopes), are parsed by [[Cdc.fromDebezium]], filtered to
    * `type = 'delete'`, and drive [[deleteFromIvfIndex]] — the exact
    * chain `StreamOps.annIngestCdc` runs per micro-batch, here in its
    * oracle-checkable batch form. Victim set = `vec_id % 7 == 2`,
    * distinct from the after-delete gate's `% 5 == 1` so the two rows
    * can never shadow each other. The oracle keeps the FULL-corpus
    * centroids (a build-time artifact the delete never rewrites) and
    * excludes the victims from the candidate side only. */
  val simTopkIvfCdcDelete = QueryDef(
    "sim_topk_ivf_cdc_delete",
    graft.QueryDef.replacedOracle(simTopkIvfExternal.oracle,
      "FROM embeddings e JOIN top2 ON e.label = top2.label, q",
      "FROM embeddings e JOIN top2 ON e.label = top2.label, q\n  WHERE e.vec_id % 7 <> 2"),
    (spark, dir) => {
      val indexDir = graft.TempDirs.create("ivf-serve-cdc-del")
      persistIvfIndex(buildIvfIndex(spark, dir), indexDir)
      // the raw connector record: delete ops carry the key in the
      // BEFORE image (after = null), exactly as the connector emits
      val raw = Tables.table(spark, dir, "embeddings")
        .filter(col("vec_id") % 7 === 2)
        .select(concat(
          lit("""{"before":{"vec_id":"""), col("vec_id"),
          lit("""},"after":null,"source":{"db":"graft","table":"embeddings"},"op":"d","ts_ms":1704067200000}"""))
          .as("value"))
      val delIds = Cdc.fromDebezium(raw)
        .filter(col("type") === "delete")
        .select(get_json_object(col("before"), "$.vec_id")
          .cast("long").as("vec_id"))
      deleteFromIvfIndex(spark, indexDir, delIds, batchId = 1L)
      ivfProbeVectorServed(spark, indexDir, externalQueryVec)
        .orderBy(col("cos_sim").desc, col("vec_id"))
    })

  /** The SERVE-ONLY leg of [[simTopkIvfServed]]: identical probe and
    * oracle over the session-cached persisted index — built once per
    * sfDir, reused across invocations. This is the steady-state ANN
    * serving number; a serving regression shows up here instead of
    * hiding under the build+persist cost of the end-to-end form. */
  val simTopkIvfServeOnly = QueryDef(
    "sim_topk_ivf_serve_only",
    simTopkIvfExternal.oracle,
    (spark, dir) =>
      ivfProbeVectorServed(spark, cachedIvfIndexDir(spark, dir), externalQueryVec)
        .orderBy(col("cos_sim").desc, col("vec_id")))

  /** The re-ranking leg's steady-state SERVING number: probe the
    * session-cached persisted index (sketch stage over the on-disk
    * int8 cells, exact cosine in the 2 chosen cells) with corpus
    * vector 0's embedding, excluding the vector itself — the same
    * answer contract as [[simTopkIvfRerank]], so the same full-chain
    * oracle checks it. The query-vector fetch is a one-row
    * control-plane lookup, the router pattern of [[nearestLabels]]. */
  val simTopkIvfRerankServeOnly = QueryDef(
    "sim_topk_ivf_rerank_serve_only",
    simTopkIvfRerank.oracle,
    (spark, dir) => {
      val qv = Tables.table(spark, dir, "embeddings")
        .filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).toSeq
      ivfProbeVectorRerankedServed(spark, cachedIvfIndexDir(spark, dir), qv,
        k = 10, nprobeWide = 5, rerankCells = 2, exclude = Some(0L))
        .orderBy(col("cos_sim").desc, col("vec_id"))
    })

  /** The PQ re-ranking leg as an oracle-checked query: product-
    * quantization codes (8 subspaces × 8 dims, sub-codebooks = the
    * coarse centroids projected per subspace) score the 5 nearest of
    * the 10 cells via the query's asymmetric-distance LUT; exact
    * cosine runs inside the 2 chosen cells. The oracle replays the
    * whole chain — centroids, codebook ordering, per-subspace argmin
    * encode (first-position tie-break = Spark's struct(d2, i) min),
    * LUT fold, pool cut, cell choice, exact top-10 — in DuckDB SQL,
    * so both engines must agree on every intermediate ordering. */
  val simTopkIvfRerankPq = QueryDef(
    "sim_topk_ivf_rerank_pq",
    Some {
      // per-subspace squared L2 from the row's unit direction to every
      // codeword — appears twice (argmin needs the list for both
      // list_min and list_position)
      val d2l = "list_transform(cb.cb, cvec -> list_reduce(list_transform(generate_series(1, 8), j -> (cvec[m*8+j] - CAST(es.embedding[m*8+j] AS DOUBLE) / greatest(es.enorm, 1e-30)) * (cvec[m*8+j] - CAST(es.embedding[m*8+j] AS DOUBLE) / greatest(es.enorm, 1e-30))), (x, y) -> x + y))"
      s"""WITH dims AS (SELECT unnest(generate_series(1, 64)) AS dim),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |cent AS (SELECT label, dim, avg(CAST(embedding[dim] AS DOUBLE)) AS cv
         |         FROM embeddings CROSS JOIN dims GROUP BY label, dim),
         |centl AS (SELECT label, list(cv ORDER BY dim) AS cvec FROM cent GROUP BY label),
         |cb AS (SELECT list(list_transform(cvec, x ->
         |         x / greatest(sqrt(list_reduce(list_transform(cvec, v -> v * v),
         |           (a, b) -> a + b)), 1e-30)) ORDER BY label) AS cb FROM centl),
         |qd AS (SELECT dim, CAST(qe[dim] AS DOUBLE) AS qv FROM q CROSS JOIN dims),
         |dist AS (SELECT c.label, SUM((c.cv - qd.qv) * (c.cv - qd.qv)) AS d2
         |         FROM cent c JOIN qd ON qd.dim = c.dim GROUP BY c.label),
         |wide AS (SELECT label FROM dist ORDER BY d2, label LIMIT 5),
         |qq AS (SELECT qe, sqrt(${dd("qe", "qe")}) AS qnorm FROM q),
         |lut AS (SELECT list_transform(generate_series(0, 7), m ->
         |          list_transform(cb.cb, cvec ->
         |            list_reduce(list_transform(generate_series(1, 8), j ->
         |              cvec[m*8+j] * CAST(qq.qe[m*8+j] AS DOUBLE)), (x, y) -> x + y))) AS lut,
         |          qq.qnorm
         |        FROM cb, qq),
         |es AS (SELECT e.vec_id, e.label, e.embedding,
         |         sqrt(${dd("e.embedding", "e.embedding")}) AS enorm
         |       FROM embeddings e JOIN wide ON e.label = wide.label
         |       WHERE e.vec_id <> 0),
         |enc AS (SELECT es.vec_id, es.label,
         |          list_transform(generate_series(0, 7), m ->
         |            list_position($d2l, list_min($d2l))) AS pqc
         |        FROM es, cb),
         |ap AS (SELECT enc.vec_id, enc.label,
         |         list_reduce(list_transform(generate_series(0, 7), m ->
         |           lut.lut[m+1][enc.pqc[m+1]]), (x, y) -> x + y)
         |         / greatest(lut.qnorm, 1e-30) AS ap
         |       FROM enc, lut),
         |pool AS (SELECT vec_id, label, ap FROM ap ORDER BY ap DESC, vec_id LIMIT 50),
         |cells AS (SELECT label FROM (SELECT label, MAX(ap) AS m FROM pool GROUP BY label)
         |          ORDER BY m DESC, label LIMIT 2)
         |SELECT vec_id, cos_sim FROM (
         |  SELECT e.vec_id, ROUND(${dd("e.embedding", "q.qe")}
         |    / (sqrt(${dd("e.embedding", "e.embedding")}) * sqrt(${dd("q.qe", "q.qe")})), 6) AS cos_sim
         |  FROM embeddings e JOIN cells ON e.label = cells.label, q
         |  WHERE e.vec_id <> 0
         |  ORDER BY ${dd("e.embedding", "q.qe")}
         |    / (sqrt(${dd("e.embedding", "e.embedding")}) * sqrt(${dd("q.qe", "q.qe")})) DESC, e.vec_id
         |  LIMIT 10)
         |ORDER BY cos_sim DESC, vec_id""".stripMargin
    },
    (spark, dir) => ivfProbeRerankedPq(buildIvfIndex(spark, dir), queryVecId = 0,
      k = 10, nprobeWide = 5, rerankCells = 2, poolSize = 50)
      .orderBy(col("cos_sim").desc, col("vec_id")))

  /** The PQ re-ranking leg's steady-state SERVING number over the
    * session-cached persisted index (stage 1 reads the on-disk
    * `pq_g` cells — 8 bit-packed codes per row), same answer contract
    * and full-chain oracle as [[simTopkIvfRerankPq]]. */
  val simTopkIvfRerankPqServeOnly = QueryDef(
    "sim_topk_ivf_rerank_pq_serve_only",
    simTopkIvfRerankPq.oracle,
    (spark, dir) => {
      val qv = Tables.table(spark, dir, "embeddings")
        .filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).toSeq
      ivfProbeVectorRerankedServedPq(spark, cachedIvfIndexDir(spark, dir), qv,
        k = 10, nprobeWide = 5, rerankCells = 2, exclude = Some(0L))
        .orderBy(col("cos_sim").desc, col("vec_id"))
    })

  /** Corpus-wide kNN graph: every vector's top-3 cosine neighbors
    * WITHIN its sign-bit bucket — the similarity-graph builder behind
    * semantic dedup/clustering pipelines (one row per (vector,
    * neighbor rank)). The self-join key is the bucket, so candidate
    * generation is partition-local exactly as in
    * `dedup_embedding_lsh`; the per-vector top-k is a window rank
    * whose partial sort stays inside the bucket's candidate set, never
    * the corpus. Ties break on neighbor id, making the rank total and
    * engine-independent. */
  val simKnnGraph = QueryDef(
    "sim_knn_graph",
    Some(s"""WITH e AS (SELECT vec_id, embedding, ${bucketExpr("embedding")} AS bucket FROM embeddings),
            |p AS (
            |  SELECT a.vec_id AS va, b.vec_id AS vb,
            |    ${dd("a.embedding", "b.embedding")}
            |    / (sqrt(${dd("a.embedding", "a.embedding")})
            |     * sqrt(${dd("b.embedding", "b.embedding")})) AS cos
            |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
            |r AS (SELECT va, vb, cos,
            |        ROW_NUMBER() OVER (PARTITION BY va ORDER BY cos DESC, vb) AS rnk
            |      FROM p)
            |SELECT va AS vec_id, vb AS neighbor_id, CAST(rnk AS BIGINT) AS rnk,
            |  ROUND(cos, 6) AS cos_sim
            |FROM r WHERE rnk <= 3
            |ORDER BY vec_id, rnk""".stripMargin),
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val pairs = bucketedCosinePairs(
        Tables.table(spark, dir, "embeddings"), ordered = false, minCos = None)
      val w = Window.partitionBy("va").orderBy(col("cos").desc, col("vb"))
      pairs.withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("va").as("vec_id"), col("vb").as("neighbor_id"),
          col("rnk"), round(col("cos"), 6).as("cos_sim"))
        .orderBy("vec_id", "rnk")
    })

  val defs: Seq[QueryDef] = Seq(simTopkBruteforce, simTopkLsh, simTopkIvf,
    simTopkIvfRerank, simTopkIvfRerankServeOnly,
    simTopkIvfRerankPq, simTopkIvfRerankPqServeOnly,
    simTopkIvfMulti, simTopkIvfIncremental, simTopkIvfExternal,
    simTopkIvfServed, simTopkIvfServeOnly, simTopkIvfAfterDelete,
    simTopkIvfCdcDelete, simKnnGraph)
}
