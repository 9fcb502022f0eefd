package graft.ops

import graft.Materialize
import graft.Materialize.Ops
import graft.QueryDef
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Large-scale training-data deduplication operators (north-star surface
  * beyond the reference): exact hash dedup, bag-of-words fingerprint
  * dedup, MinHash+LSH candidate generation, n-gram Jaccard verification,
  * SimHash signatures, embedding-cosine near-dup.
  *
  * Scale design: every operator is a pure shuffle-on-key pipeline — no
  * driver-side loops, no cross products except through LSH band buckets
  * (candidate pairs, not all pairs). MinHash signatures are built from
  * md5 over 3-word shingles so the Spark and DuckDB results are
  * bit-identical (lexicographic min over identical hex strings).
  */
object Dedup {

  /** Token 3-gram (3-word shingle) element relation `(doc_id, s)`.
    * NOT deduplicated:
    * every consumer is multiplicity-insensitive — [[docSigSets]]
    * collect_set's by doc_id, [[minhashSig]] min's by doc_id — and a
    * doc's elements come from ONE exploded row, so duplicates are
    * partition-local and the consumers' partial aggregation dedups
    * them map-side. The r16 floor audit found the old `.distinct()`
    * here paid a full (doc_id, s)-keyed exchange of the pipeline's
    * widest relation just to feed an aggregation that dedups anyway
    * (guide §2.4 "a distinct on data that is already unique" — here,
    * on data whose consumer dedups). The oracle's SELECT DISTINCT g0
    * stays: SQL min/list(DISTINCT) are equally multiplicity-free, so
    * results are identical. */
  private def shinglesOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"),
        explode(expr("transform(sequence(1, size(ws) - 2), i -> concat_ws(' ', slice(ws, i, 3)))")).as("s"))

  private def shingles(spark: SparkSession, dir: String): DataFrame =
    shinglesOf(Tables.table(spark, dir, "documents"))

  /** 8 independent 32-bit MinHash functions from two md5 calls per
    * shingle: hash i is the lexicographic min over shingles of the i-th
    * 8-hex-char slice of md5(s) (i<4) / md5('x'||s) (i≥4). One groupBy
    * with 8 min aggregates — map-side partial mins shrink the shuffle
    * to one row per (doc, partition), no per-seed row explosion. */
  private def minhashSig(sh: DataFrame): DataFrame = {
    val h1 = md5(col("s"))
    val h2 = md5(concat(lit("x"), col("s")))
    def slice(h: org.apache.spark.sql.Column, i: Int) = substring(h, 8 * i + 1, 8)
    sh.groupBy("doc_id")
      .agg(
        concat((0 to 3).map(i => min(slice(h1, i)).as(s"h$i")): _*).as("band0"),
        concat((0 to 3).map(i => min(slice(h2, i)).as(s"h${i + 4}")): _*).as("band1"))
  }

  /** LSH bands: signature split into 2 bands of 4 hashes; docs sharing a
    * band value are candidate near-dup pairs. */
  private def bandPairs(sh: DataFrame, spark: SparkSession): DataFrame = {
    // The band self-join references the signature relation twice; cache
    // it (one row per doc) so the minhash pipeline runs once, not once
    // per join side. The pair relation is materialized eagerly
    // (Materialize) so the signature cache can be released here
    // instead of leaking into the session's storage pool.
    val sig = minhashSig(sh).cache()
    val bands = sig.select(col("doc_id"), lit(0).as("band_id"), col("band0").as("sig"))
      .unionByName(sig.select(col("doc_id"), lit(1).as("band_id"), col("band1").as("sig")))
    val a = bands.as("a")
    val b = bands.as("b")
    val pairs = a.join(b,
        col("a.band_id") === col("b.band_id") &&
        col("a.sig") === col("b.sig") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
      .materialized
    sig.unpersist()
    pairs
  }

  /** Shared oracle CTE prefix: shingles → minhash → bands → candidate
    * pairs, mirroring the builders above hash-for-hash. */
  private val lshCtes =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i FROM w WHERE len(ws) >= 3),
      |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s FROM g),
      |sig AS (SELECT doc_id,
      |  min(substr(md5(s), 1, 8))||min(substr(md5(s), 9, 8))||min(substr(md5(s), 17, 8))||min(substr(md5(s), 25, 8)) AS band0,
      |  min(substr(md5('x' || s), 1, 8))||min(substr(md5('x' || s), 9, 8))||min(substr(md5('x' || s), 17, 8))||min(substr(md5('x' || s), 25, 8)) AS band1
      |  FROM sh GROUP BY doc_id),
      |bands AS (SELECT doc_id, 0 AS band_id, band0 AS sig FROM sig
      |          UNION ALL SELECT doc_id, 1, band1 FROM sig),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |         FROM bands a JOIN bands b
      |           ON a.band_id = b.band_id AND a.sig = b.sig AND a.doc_id < b.doc_id)""".stripMargin

  /** Oracle CTEs for the cross-split near-dup check: same shingle →
    * minhash → band chain as [[lshCtes]], but candidates pair the
    * odd-id PROBE side against the even-id INDEX side only, and every
    * candidate is scored with exact shingle-set Jaccard. */
  private val lshSplitCtes =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i FROM w WHERE len(ws) >= 3),
      |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s FROM g),
      |sig AS (SELECT doc_id,
      |  min(substr(md5(s), 1, 8))||min(substr(md5(s), 9, 8))||min(substr(md5(s), 17, 8))||min(substr(md5(s), 25, 8)) AS band0,
      |  min(substr(md5('x' || s), 1, 8))||min(substr(md5('x' || s), 9, 8))||min(substr(md5('x' || s), 17, 8))||min(substr(md5('x' || s), 25, 8)) AS band1
      |  FROM sh GROUP BY doc_id),
      |bands AS (SELECT doc_id, 0 AS band_id, band0 AS sig FROM sig
      |          UNION ALL SELECT doc_id, 1, band1 FROM sig),
      |sets AS (SELECT doc_id, list(DISTINCT s) AS ss FROM sh GROUP BY doc_id),
      |cand AS (SELECT DISTINCT a.doc_id AS probe_id, b.doc_id AS index_id
      |         FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.sig = b.sig
      |         WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0),
      |j AS (SELECT c.probe_id, c.index_id,
      |        CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)
      |          / (len(sa.ss) + len(sb.ss) - len(list_intersect(sa.ss, sb.ss))) AS jac,
      |        len(list_intersect(sa.ss, sb.ss)) AS ni,
      |        len(sa.ss) + len(sb.ss) - len(list_intersect(sa.ss, sb.ss)) AS nu
      |      FROM cand c JOIN sets sa ON sa.doc_id = c.probe_id JOIN sets sb ON sb.doc_id = c.index_id)""".stripMargin

  /** Exact dedup: hash-groupBy on content; survivor = min doc_id. */
  val dedupExact = QueryDef(
    "dedup_exact",
    Some("""SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, COUNT(*) AS n_copies
           |FROM documents
           |GROUP BY md5(text)
           |ORDER BY keep_id""".stripMargin),
    (spark, dir) =>
      Tables.table(spark, dir, "documents")
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("keep_id"))

  /** Bag-of-words fingerprint dedup: md5 over the sorted distinct token
    * set — catches token-reordered copies exact dedup misses. */
  val dedupFingerprint = QueryDef(
    "dedup_fingerprint",
    Some("""SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp,
           |  min(doc_id) AS keep_id, COUNT(*) AS n_copies
           |FROM documents
           |GROUP BY 1
           |ORDER BY keep_id""".stripMargin),
    (spark, dir) =>
      Tables.table(spark, dir, "documents")
        .groupBy(md5(concat_ws(" ", array_sort(array_distinct(split(col("text"), " "))))).as("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("keep_id"))

  /** MinHash + LSH near-dup candidate pairs (shingle → minhash → band →
    * bucket join). */
  val dedupMinhashLsh = QueryDef(
    "dedup_minhash_lsh",
    Some(s"""$lshCtes
            |SELECT doc_a, doc_b FROM cand
            |ORDER BY doc_a, doc_b""".stripMargin),
    (spark, dir) => bandPairs(shingles(spark, dir), spark).orderBy("doc_a", "doc_b"))

  /** Single source of truth for the confirmed-pair threshold: both the
    * pair listing and cluster formation build on exactly these edges. */
  private val jaccardThreshold = 0.4

  /** Shared oracle CTEs: candidate pairs scored with exact shingle-set
    * Jaccard (column `jac`). */
  private val jaccardCtes =
    s"""$lshCtes,
       |sets AS (SELECT doc_id, list(DISTINCT s) AS ss FROM sh GROUP BY doc_id),
       |j AS (SELECT c.doc_a, c.doc_b,
       |        CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)
       |          / (len(sa.ss) + len(sb.ss) - len(list_intersect(sa.ss, sb.ss))) AS jac,
       |        len(list_intersect(sa.ss, sb.ss)) AS ni,
       |        len(sa.ss) + len(sb.ss) - len(list_intersect(sa.ss, sb.ss)) AS nu
       |      FROM cand c
       |      JOIN sets sa ON sa.doc_id = c.doc_a
       |      JOIN sets sb ON sb.doc_id = c.doc_b)""".stripMargin

  /** LSH candidate pairs scored with exact Jaccard (`doc_a, doc_b,
    * jac`). One shingle scan feeds both the candidate generation and
    * the verification. */
  private def scoredPairs(spark: SparkSession, dir: String): DataFrame =
    scoredPairsOf(shinglesOf(Tables.table(spark, dir, "documents")), spark)

  /** [[scoredPairs]] over an ARBITRARY `(doc_id, s)` element relation —
    * the minhash → band → bucket-join → exact-Jaccard pipeline is
    * element-agnostic, so other modalities reuse it whole: the
    * multimodal near-dup ([[Multimodal.mmNearDup]]) feeds byte 8-grams
    * of binary payloads through exactly this path. */
  private[ops] def scoredPairsOf(elems: DataFrame,
      spark: SparkSession): DataFrame = {
    // ONE aggregation computes the MinHash bands AND the inlined
    // element set ([[docSigSets]]), so the element relation — the
    // pipeline's widest stage — is consumed exactly once: no full-
    // element cache, no second agg pass over it, no sig⋈sets join.
    // The cached relation is one row per doc (bands + set), which the
    // band self-join and both verify sides all read.
    val docs = docSigSets(elems).cache()
    val bands = docs.select(col("doc_id"), lit(0).as("band_id"), col("band0").as("sig"))
      .unionByName(docs.select(col("doc_id"), lit(1).as("band_id"), col("band1").as("sig")))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band_id") === col("b.band_id") &&
        col("a.sig") === col("b.sig") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val inter = size(array_intersect(col("sa.ss"), col("sb.ss")))
    val jac = inter.cast("double") /
      (size(col("sa.ss")) + size(col("sb.ss")) - inter)
    // Materialize the scored pairs off the per-doc cache, then release
    // it — callers get a compact checkpointed relation, not a lazy plan
    // pinning a cached relation in the storage pool.
    val scored = cand
      .join(docs.as("sa"), col("sa.doc_id") === col("doc_a"))
      .join(docs.as("sb"), col("sb.doc_id") === col("doc_b"))
      .select(col("doc_a"), col("doc_b"), jac.as("jac"),
        inter.as("n_inter"),
        (size(col("sa.ss")) + size(col("sb.ss")) - inter).as("n_union"))
      .materialized
    docs.unpersist()
    scored
  }

  /** One row per doc carrying both LSH band signatures AND the
    * distinct element set, from a SINGLE pass over the element
    * relation: one collect_set groupBy (the only aggregation — the
    * pre-r14 shape paid a second full pass for the minhash aggregate
    * plus a sig⋈sets join), then the band mins computed over the
    * per-doc array in a codegen'd projection (array_min over
    * transform — identical values: same md5s, same UTF8String
    * ordering as a min() aggregate; computing the mins INSIDE the
    * collect_set's ObjectHashAggregate instead measured 6–14% slower,
    * because the per-row min updates fall out of whole-stage codegen).
    * The shuffle carries (doc_id, partial set) — no payload/text. */
  private def docSigSets(elems: DataFrame): DataFrame = {
    def sliceMin(hashes: String, i: Int) = array_min(
      transform(col(hashes), h => substring(h, 8 * i + 1, 8)))
    elems.groupBy("doc_id").agg(collect_set(col("s")).as("ss"))
      .withColumn("m1", transform(col("ss"), s => md5(s)))
      .withColumn("m2", transform(col("ss"), s => md5(concat(lit("x"), s))))
      .select(col("doc_id"), col("ss"),
        concat((0 to 3).map(i => sliceMin("m1", i)): _*).as("band0"),
        concat((0 to 3).map(i => sliceMin("m2", i)): _*).as("band1"))
  }

  /** Band rows over an ARBITRARY `(doc_id, s)` element relation — the
    * element-agnostic core of [[bandRows]]: MinHash signatures, the
    * inlined element set, one row per (doc, band) with the cell
    * prefix. The multimodal near-dup index feeds byte 8-grams of
    * binary payloads through exactly this path, so the persisted
    * layout, probes, deltas, tombstones and folds are IDENTICAL
    * machinery across modalities. */
  private[graft] def bandRowsOfElems(elems: DataFrame,
      prefixLen: Int): DataFrame = {
    // prefixLen=0 would make sig_p the EMPTY STRING, which the
    // partitioned write renders as __HIVE_DEFAULT_PARTITION__ — a path
    // no probe (which builds "sig_p=<prefix>") ever matches, so every
    // probe would silently return zero candidates. A corrupt config,
    // not a definable layout: fail loudly at the one seam every
    // writer and every probe shares.
    require(prefixLen >= 1,
      s"prefixLen=$prefixLen: must be >= 1 — an empty cell prefix writes " +
        "__HIVE_DEFAULT_PARTITION__ cells that no probe path ever matches")
    // SINGLE pass, mins in whole-stage codegen ([[docSigSets]]) —
    // measured r14 same-container A/B vs the r13 sig⋈sets shape:
    // −10–25% on the index build AND probe rows (the third shape
    // tried, min()-inside-ObjectHashAggregate, was 6–14% slower than
    // baseline; see docSigSets's scaladoc for the full ladder).
    docSigSets(elems)
      .select(col("doc_id"), col("ss"),
        explode(array(
          struct(lit(0).as("band_id"), col("band0").as("sig")),
          struct(lit(1).as("band_id"), col("band1").as("sig")))).as("b"))
      .select(col("doc_id"), col("b.band_id").as("band_id"),
        col("b.sig").as("sig"),
        substring(col("b.sig"), 1, prefixLen).as("sig_p"),
        col("ss"))
  }

  /** One row per (doc, LSH band) carrying everything a near-dup probe
    * needs: the band signature (candidate key), the cell prefix
    * `sig_p` (first 2 hex chars — the partition cell), and the doc's
    * full shingle set (the exact-verify side INLINED, so a probe never
    * needs a second lookup relation: 2× shingle storage traded for
    * cell-local verification, the serving-layout tradeoff).
    *
    * `exactFallback` closes the short-doc blind spot: documents with
    * fewer than 3 whitespace tokens produce no shingles, so the
    * MinHash bands never see them. With the fallback on, each such doc
    * (with at least one non-empty token) emits ONE extra row under the
    * reserved `band_id = 2`, whose signature is the bag-of-words
    * fingerprint (md5 over the sorted distinct token set) and whose
    * "shingle set" is the distinct token set — so an identical or
    * token-reordered short doc collides in its fallback cell and
    * verifies at Jaccard 1.0. Zero-token docs stay un-indexed (no
    * content to match on). ON by default for the ingest-facing persist
    * path ([[persistLshIndex]]) so a seeded base participates in the
    * same short-doc contract `dedupIngest` probes with; the
    * oracle-checked `dedup_against_index` turns it off explicitly
    * (its oracle mirrors the shingle pipeline only). */
  private def bandRows(docs: DataFrame, prefixLen: Int,
      exactFallback: Boolean = false): DataFrame = {
    val shingled = bandRowsOfElems(shinglesOf(docs), prefixLen)
    if (!exactFallback) shingled
    else {
      val shorts = docs
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) < 3)
        .select(col("doc_id"),
          array_sort(array_distinct(filter(col("ws"),
            (w: Column) => length(w) > 0))).as("ss"))
        .filter(size(col("ss")) > 0)
        .select(col("doc_id"), lit(2).as("band_id"),
          md5(concat_ws(" ", col("ss"))).as("sig"), col("ss"))
        .select(col("doc_id"), col("band_id"), col("sig"),
          substring(col("sig"), 1, prefixLen).as("sig_p"), col("ss"))
      shingled.unionByName(shorts)
    }
  }

  /** Default per-file row bound for a hot index cell — the size-bound
    * split knob of [[writeBandCells]] and the IVF corpus writes. */
  private[graft] val defaultMaxCellRows: Long = 1000000L

  /** One partitioned write of band rows, cell-clustered first: without
    * the repartition every shuffle task writes a fragment file into
    * every cell it touches (tasks × cells tiny files — the classic
    * partitioned-write mistake); with it each cell is one task's
    * output — EXCEPT hot cells. A skewed cell (common shingle prefix)
    * above `maxCellRows` rows gets a second shuffle key (row-hash mod
    * a size-derived slot count), so its rows spread across several
    * tasks and land as several bounded files inside the one cell
    * directory — path-level probe pruning is untouched (the split is
    * files-within-cell, not a new partition column) and the classic
    * one-giant-task skew stall cannot happen. The input is
    * materialized once (releasably) because the slot assignment needs
    * per-cell counts — one cheap count pass over the materialized
    * rows instead of recomputing the band pipeline twice.
    *
    * Returns the per-cell row counts as `(cellDirName, rows)` — the
    * writer computes them for slot assignment anyway, and the append
    * path records them in its ledger entry. */
  private def writeBandCells(rows: DataFrame, path: String,
      maxCellRows: Long = defaultMaxCellRows): Map[String, Long] =
    // sig-sorted within each cell file: the two-stage probe's stage-2
    // read pushes `sig IN (survivors)` to the scan, and tight per-page
    // sig stats let it skip the pages of the FAT inlined shingle-set
    // column for every non-candidate row (see nearDupCheckWithProbe)
    Storage.writeCellClustered(rows, Seq("band_id", "sig_p"), "doc_id",
      path, maxCellRows, sortCols = Seq("sig"))
      .map { case (vals, n) =>
        (s"band_id=${vals(0)}/sig_p=${vals(1)}", n) }.toMap

  private val lshPrefix = "bands"
  private def lshBase(indexDir: String, gen: Long) =
    s"$indexDir/${lshPrefix}_g$gen"

  /** The PERSISTED cell-prefix length of an LSH index (`lsh_meta`,
    * the length appends and probes band at). prefixLen is a LAYOUT
    * property — the cell paths are `sig_p=substring(sig, 1, len)` — so
    * a probe or append banding at a different length than the index
    * was written with would build paths that exist for NO cell and
    * silently return/contribute nothing. Writers persist it before the
    * manifest commit; probes and appends take no length of their own. */
  private def readLshPrefixLen(spark: SparkSession, indexDir: String): Int =
    graft.GenLifecycle.requireMeta(spark, indexDir, "lsh_meta").trim.toInt

  /** The LIVE generation's prefix length (its own `_prefix_len`) —
    * what a re-bucketing decision steps from (the maintenance
    * autopilot's input). */
  def lshPrefixLenOf(spark: SparkSession, indexDir: String): Int =
    readGenPrefixLen(spark, lshBase(indexDir, graft.GenLifecycle
      .resolveOrThrow(spark, indexDir, "LSH", "persistLshIndex").gen))

  /** Cells below this mass are never worth a two-stage read (the
    * measured parity zone starts well above one parquet page), so the
    * persisted tail only carries cells at or above it — the file stays
    * O(fat cells), bounded by corpus/1024 regardless of the cell
    * space. */
  private[graft] val cellMassTailFloor: Long = 1024L
  private val cellMassTailCap = 4096

  /** A generation's cell-mass summary, persisted as `_cell_mass`
    * inside the generation directory (written with the data like
    * `_prefix_len`, retired with the directory by GC, invisible to
    * Spark's file index): line 1 is the hottest cell's row count (the
    * layout-level signal) plus a `truncated` tag when the tail was
    * capped, the rest the FAT-CELL TAIL —
    * `cellName\trows` for cells ≥ [[cellMassTailFloor]], heaviest
    * first, capped — the per-probe two-stage decision input. Base
    * cell mass only changes at a fold, so the writer pays one
    * column-pruned count over the cells it just wrote (footer-cheap —
    * count(1) over partition columns materializes no data pages) and
    * every probe reads one small metadata file instead of
    * re-aggregating footers; rows appended BETWEEN folds reach the
    * decision through the ledger's per-cell row counts, not this
    * file. */
  private def writeGenCellMass(spark: SparkSession, root: String): Unit = {
    val cells = spark.read.schema(bandReadSchema).option("basePath", root)
      .parquet(root)
      .groupBy("band_id", "sig_p").agg(count(lit(1)).as("n"))
    val hotRow = cells.agg(max(col("n"))).head()
    val hottest = if (hotRow.isNullAt(0)) 0L else hotRow.getLong(0)
    // the FAT TAIL rides along (heaviest first, capped): per-probe
    // two-stage selection intersects it with the probe's own cells —
    // a skewed layout whose hottest cell a probe never touches must
    // not force the two-stage plan onto page-sized reads (measured:
    // the ×100 512-cell layout reads "fat" by hottest yet probes at
    // parity — ServeSoak lsh_serve vs lsh_2stage). A layout with MORE
    // fat cells than the cap records the truncation on line 1: an
    // absent tail entry then means "unknown", not "thin", and the
    // AUTO decision degrades to the layout-level hottest answer
    // instead of silently forfeiting the two-stage win at exactly the
    // many-fat-cells scale the feature targets.
    val tailRows = cells.filter(col("n") >= cellMassTailFloor)
      .orderBy(col("n").desc, col("band_id"), col("sig_p"))
      .limit(cellMassTailCap + 1)
      .collect()
    val truncated = tailRows.length > cellMassTailCap
    val tail = tailRows.take(cellMassTailCap)
      .map(r => s"band_id=${r.getInt(0)}/sig_p=${r.getString(1)}\t${r.getLong(2)}")
    // line-1 tags are content-keyed and order-free: `truncated` marks
    // a capped tail; readers ignore any other tag
    val head = hottest.toString +:
      (if (truncated) Seq("truncated") else Nil)
    graft.GenLifecycle.writeMeta(spark, root, "_cell_mass",
      (head.mkString("\t") +: tail).mkString("\n"))
  }

  /** `(hottest, fat-cell tail, tail-truncated)` of a generation. One
    * metadata read. Unknown line-1 tags are ignored (older layouts may
    * carry a `floor=N` tag, which no reader honours). */
  private def readGenCellMassFull(spark: SparkSession,
      root: String): (Long, Map[String, Long], Boolean) = {
    val lines = graft.GenLifecycle.requireMeta(spark, root, "_cell_mass")
      .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
    val headFields = lines.head.split("\t")
    val tail = lines.drop(1).map { l =>
      val Array(cell, n) = l.split("\t")
      cell -> n.toLong
    }.toMap
    (headFields(0).toLong, tail, headFields.drop(1).contains("truncated"))
  }

  /** Fat-cell floor of the two-stage AUTO decision ([[twoStageAuto]],
    * [[nearDupCheckWithProbe]] with `twoStage = None`): the measured
    * crossover (PERF.md, ServeSoak on local[32]/NVMe) has the two-stage
    * probe at parity-to-slower on ~4k-row cells and winning 1.7× at
    * ~60k-row cells; 16384 sits above the measured parity zone and
    * below the proven win, i.e. the flip only fires once cells are
    * unambiguously many-page. Storage with a different parity zone
    * would need its own measurement; none is taken at run time. */
  val twoStageCellRowsFloor: Long = 16384L

  /** Committed-delta row mass attributable to cell `(b, p)` from the
    * ledger entries' per-cell row counts — zero extra reads (the
    * counts rode each append's ledger entry). A delta cell recorded at
    * a DIFFERENT prefix length counts when prefix-compatible —
    * conservative over-attribution on the transient mixed-length
    * layouts a rebucket leaves. Input of the per-probe two-stage AUTO
    * decision. */
  private def deltaMassFor(liveDataEntries: Seq[graft.GenManifest.DeltaEntry],
      b: Int, p: String): Long =
    liveDataEntries.iterator.map { e =>
      e.rows match {
        case Some(rs) if e.cells.length == rs.length =>
          e.cells.iterator.zip(rs.iterator).collect {
            case (c, r) if c.startsWith(s"band_id=$b/sig_p=") && {
              val cp = c.substring(c.indexOf("sig_p=") + 6)
              cp.startsWith(p) || p.startsWith(cp)
            } => r
          }.sum
        case _ => 0L
      }
    }.sum

  /** The LAYOUT-level fat-cell answer: true when the live base
    * generation's hottest cell carries at least `floor` band rows —
    * the operational/reporting signal ("does this layout have cells
    * worth two-staging at all"). The actual per-probe selection
    * ([[nearDupCheckWithProbe]] with `twoStage = None`) is finer: it
    * intersects the persisted fat-cell TAIL with the cells the probe
    * actually lands in, so a skewed layout that reads fat here still
    * serves one-pass probes into its page-sized cells. One manifest
    * resolve + one metadata line — O(1) in corpus, backlog and probe
    * size. `floor` defaults to the measured constant
    * [[twoStageCellRowsFloor]]; no floor is read from the index. */
  def twoStageAuto(spark: SparkSession, indexDir: String,
      floor: Long = twoStageCellRowsFloor): Boolean =
    graft.GenManifest.resolve(spark, indexDir).exists { st =>
      readGenCellMassFull(spark, lshBase(indexDir, st.gen))._1 >= floor
    }

  /** Explicit read schema for a band-cell layout — NEVER inferred.
    * Partition-value inference would narrow an all-digit `sig_p` cell
    * ('07') to int and lose the leading zero; a compaction rewriting
    * that cell as `sig_p=7` would orphan its rows from every future
    * probe (paths are built from `substring(sig, 1, len)`). The
    * explicit schema keeps the raw path string AND makes an EMPTY
    * committed delta (a batch where nothing was accepted writes only
    * `_SUCCESS`) read as zero rows instead of failing schema
    * inference. */
  private val bandReadSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "doc_id BIGINT, sig STRING, ss ARRAY<STRING>, band_id INT, sig_p STRING")

  private def readBandRoot(spark: SparkSession, root: String,
      paths: Seq[String]): DataFrame =
    // cell-path reads list on the driver, not via a Spark job — the
    // path count is probe-bounded (IndexFs.withCellListing)
    graft.IndexFs.withCellListing(spark) {
      spark.read.schema(bandReadSchema).option("basePath", root)
        .parquet(paths: _*)
    }

  /** Persist a MinHash/LSH near-dup index for dedup-AT-INGEST: the
    * band rows land partitioned by `(band_id, sig_p)` — 2×256 cells —
    * so a probe lists only the cells its own band signatures fall in
    * (path-level pruning, the same serving discipline as the persisted
    * IVF index). `prefixLen` sets the cell count (16^len per band):
    * size it to the corpus — the layout contract is cells small enough
    * that a batch's probe I/O is proportional to its candidate mass,
    * not the corpus, but large enough that a cell is a real file, not
    * a fragment. Probes and appends read the length back from the
    * index.
    *
    * On-disk lifecycle is the [[graft.GenManifest]] protocol: the
    * base lands as generation 0 (`bands_g0`) and an atomic manifest
    * commit makes it visible; creates/replaces the index at
    * `indexDir`. All listing/commit I/O goes through the Hadoop
    * FileSystem seam ([[graft.IndexFs]]) — the same code serves
    * `file:`, `hdfs:` or `s3a:` index roots. */
  def persistLshIndex(docs: DataFrame, indexDir: String,
      prefixLen: Int = 2, exactFallback: Boolean = true,
      maxCellRows: Long = defaultMaxCellRows): Unit =
    persistBandIndex(docs.sparkSession, indexDir,
      bandRows(docs, prefixLen, exactFallback), prefixLen, maxCellRows)

  /** [[persistLshIndex]] over an ARBITRARY `(doc_id, s)` element
    * relation — the cross-modality form: the caller supplies the
    * elements (text shingles, byte grams of binary payloads —
    * [[Multimodal.payloadGrams]] — token n-grams of code, …) and the
    * persisted layout, probes, deltas, tombstones, folds and the
    * maintenance autopilot are the SAME machinery. No short-doc exact
    * fallback here: that contract is text-specific (the caller's
    * element extractor defines what "too short to band" means for its
    * modality). */
  def persistLshIndexElems(elems: DataFrame, indexDir: String,
      prefixLen: Int = 2, maxCellRows: Long = defaultMaxCellRows): Unit =
    persistBandIndex(elems.sparkSession, indexDir,
      bandRowsOfElems(elems, prefixLen), prefixLen, maxCellRows)

  private def persistBandIndex(spark: SparkSession, indexDir: String,
      rows: DataFrame, prefixLen: Int, maxCellRows: Long): Unit = {
    graft.GenManifest.reset(spark, indexDir, Seq(lshPrefix))
    // empty delta ledger from birth: every reader requires one
    graft.GenManifest.writeLedger(spark, indexDir, Seq.empty)
    // prefixLen is persisted WITH the layout (before the manifest
    // commit, so a committed index always carries it): probes/appends
    // resolve it from here instead of trusting their caller to match
    graft.GenLifecycle.writeMeta(spark, indexDir, "lsh_meta",
      prefixLen.toString)
    writeBandCells(rows, lshBase(indexDir, 0), maxCellRows)
    // the generation's own length + cell-mass summary + identity
    // token, written with its data (probes derive this generation's
    // cell paths from the first, the two-stage auto decision from the
    // second; `_id` is the uniform cache-key ingredient — a rebuild
    // re-uses gen 0 with different content)
    graft.GenLifecycle.writeMeta(spark, lshBase(indexDir, 0),
      "_prefix_len", prefixLen.toString)
    writeGenCellMass(spark, lshBase(indexDir, 0))
    graft.GenLifecycle.writeGenId(spark, lshBase(indexDir, 0))
    graft.GenManifest.commit(spark, indexDir, seq = 0, gen = 0, floor = -1)
  }

  /** Grow the persisted index without rewriting it: the batch's band
    * rows land under `delta/b<batchId>` (same cell layout); a replayed
    * batch OVERWRITES its own delta — batchId idempotence, the
    * discipline shared with `statsMergePartitioned` and the IVF
    * deltas. A replayed append of a batch the manifest floor has
    * already absorbed rewrites a delta nobody reads again — compaction
    * cannot double-count. The ledger entry written after the data is
    * the delta's visibility point (retracted first on a replay
    * overwrite, so a concurrent probe never cell-prunes into a
    * half-overwritten directory), and it records the delta's cell
    * list so probes resolve ALL delta metadata in one read. */
  def appendToLshIndex(spark: SparkSession, indexDir: String,
      newDocs: DataFrame, batchId: Long,
      exactFallback: Boolean = false,
      maxCellRows: Long = defaultMaxCellRows): Unit = {
    // once a dedupIngest/dedupIngestCdc stream owns the delta axis, a
    // direct append above its counter rejects loudly — the write-side
    // twin of the takedown guard ([[graft.GenLifecycle
    // .assertAppendOnAxis]]); the ingest loop itself appends through
    // the unchecked band-rows form below
    graft.GenLifecycle.assertAppendOnAxis(spark, indexDir, batchId,
      "StreamOps.dedupIngest / dedupIngestCdc")
    appendBandRowsToLshIndex(spark, indexDir,
      bandRows(newDocs, readLshPrefixLen(spark, indexDir), exactFallback),
      batchId, maxCellRows)
  }

  /** [[appendToLshIndex]] over ALREADY-BANDED rows `(doc_id, sig, ss,
    * band_id, sig_p)` — the ingest-loop form: `dedupIngest` holds the
    * batch's band rows pinned from its own probe, and re-running
    * shingle+MinHash over the accepted docs' text was the single
    * largest stage of a steady-state ingest batch (~measured in
    * PERF.md r11). The rows' `sig_p` carries the length the PROBE
    * resolved; if a re-bucket commits between the probe and this
    * append, the delta lands at the pre-rebucket length and stays
    * correct by the mixed-length discipline — ledger cell names carry
    * their own length, probes derive per-delta paths from them, and
    * the next fold re-derives the cell key (exactly the
    * append-racing-rebucket window the OpsSpec race pins). */
  private[graft] def appendBandRowsToLshIndex(spark: SparkSession,
      indexDir: String, rows: DataFrame, batchId: Long,
      maxCellRows: Long = defaultMaxCellRows): Unit = {
    val root = s"$indexDir/delta/b$batchId"
    val floor = graft.GenManifest.resolve(spark, indexDir).map(_.floor).getOrElse(-1L)
    graft.GenLifecycle.commitDelta(spark, indexDir, floor, batchId,
        tomb = false) {
      // per-cell row counts come back FROM THE WRITER (it computes
      // them for slot assignment anyway — no extra job) and ride the
      // ledger entry: the per-probe two-stage AUTO decision folds
      // committed-delta mass into its probed-cell intersection with
      // ZERO extra metadata reads, closing the window where an
      // append-heavy stream fattens cells past the crossover while
      // the base generation's _cell_mass still answers one-pass
      val counts = writeBandCells(rows, root, maxCellRows)
      // two-level cell listing at INGEST time (1 + #bands listings) so
      // probes never pay per-cell existence checks against this delta
      val cells = graft.IndexFs.listNames(spark, root, "band_id=.*").flatMap { b =>
        graft.IndexFs.listNames(spark, s"$root/$b", "sig_p=.*").map(p => s"$b/$p")
      }.sorted
      graft.GenManifest.DeltaEntry(batchId, 0L, cells,
        rows = Some(cells.map(c => counts.getOrElse(c, 0L))))
    }
  }

  /** Explicit read schema of an LSH tombstone delta (a doc-id key
    * list) — NEVER inferred: an empty delete writes only `_SUCCESS`
    * and must read as zero keys, not a schema-inference failure. */
  private val lshTombReadSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "doc_id BIGINT")

  /** RETENTION/TAKEDOWN DELETE — remove documents from the persisted
    * LSH index without rewriting it: the distinct doc-id key list
    * lands under `delta/t<batchId>` and its ledger entry (kind `t`,
    * written AFTER the data — the commit point, retracted first on a
    * replay overwrite) makes it visible. Semantics are log-ordered —
    * the `dimUpsert` tombstone discipline (`StreamOps.mergeDimBatch`,
    * reference analog: CDC delete ops, `app/dwd/BaseDbApp.java:43`)
    * applied to the index: the delete hits the base generation and
    * every data delta with a LOWER batchId; a data delta appended at
    * a HIGHER id re-adds the document. Probes subtract the live
    * tombstone set (a broadcast anti-join — deletes are small
    * relative to the corpus); the next fold ([[compactLshIndex]])
    * drops tombstoned rows physically, and the tombstone RETIRES
    * under the manifest floor once folded data ids cover its own
    * (retiring above them could orphan an in-flight data batch — see
    * the fold's floor note); keep-two GC removes its directory two
    * commits after retirement. An unretired tombstone keeps applying
    * idempotently — already-dropped keys subtract as a no-op.
    * This is also the shrink mechanism the downward re-bucketing
    * policy presumes ("a corpus that shrank under retention
    * deletes"). batchId-idempotent like every delta write.
    *
    * CONTRACT, now ENFORCED on streaming-owned indexes: `batchId`
    * lives on the SAME monotonic axis as the data batch ids (an id
    * far above the stream's counter would kill every future append
    * below it), and deletes come from the index's one sequential
    * writer context — never racing an append (the ledger is
    * read-modify-write). Once a `dedupIngest`/`dedupIngestCdc` stream
    * has claimed the axis ([[graft.GenLifecycle.writeStreamAxis]]),
    * a direct call with an id above the stream's last claimed batch
    * REJECTS loudly — route takedowns through the ingest loop's
    * deletions feed (`StreamOps.dedupIngestCdc`, which issues them
    * inside the loop's own sequential-writer slot), or issue them at
    * or below the claimed id between micro-batches. Within one id the
    * tombstone sorts BEFORE the data: a delete at id N takes effect
    * from batch N, and a same-id re-add survives. */
  def deleteFromLshIndex(spark: SparkSession, indexDir: String,
      docIds: DataFrame, batchId: Long): Unit = {
    graft.GenLifecycle.assertTakedownOnAxis(spark, indexDir, batchId,
      "StreamOps.dedupIngestCdc")
    deleteFromLshIndexUnchecked(spark, indexDir, docIds, batchId)
  }

  /** The takedown body, axis-check-free — for the ingest loop itself
    * (which IS the sequential writer claiming the id) and for
    * graft-internal callers that provably sit in that context. */
  private[graft] def deleteFromLshIndexUnchecked(spark: SparkSession,
      indexDir: String, docIds: DataFrame, batchId: Long): Unit = {
    val st = graft.GenLifecycle.resolveOrThrow(spark, indexDir,
      "LSH", "persistLshIndex")
    // retract → write → commit: a concurrent probe never subtracts a
    // half-overwritten key list. One file — a tombstone is
    // control-plane sized and every probe broadcast-reads it whole.
    graft.GenLifecycle.commitDelta(spark, indexDir, st.floor, batchId,
        tomb = true) {
      docIds.select(col("doc_id").cast("long").as("doc_id")).distinct()
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$indexDir/delta/t$batchId")
      // key count rides the ledger entry (footer-cheap count over the
      // just-written file): the maintenance autopilot's tombstone
      // ROW-mass signal must not re-read key lists per tick, and a
      // single fat takedown taxes every probe with a broadcast
      // anti-join of exactly this many rows while tripping neither
      // the row-backlog nor the file-count signal
      val n = spark.read.schema(lshTombReadSchema)
        .parquet(s"$indexDir/delta/t$batchId").count()
      graft.GenManifest.DeltaEntry(batchId, 0L, Nil, tomb = true,
        rows = Some(Seq(n)))
    }
  }

  /** The LIVE tombstone set of an entry list, as `(t_doc, t_del)` with
    * `t_del` the key's highest delete id — None when no tombstone is
    * live in `(floor, belowBatch]` (the overwhelmingly common case:
    * zero plan change, zero extra reads). The upper bound is INCLUSIVE
    * — unlike data deltas, which a probing batch excludes at its own
    * id (its possibly-torn output): within one id, the tombstone
    * sorts BEFORE the data (`minusTombs` is strict, so a same-id data
    * delta survives its tombstone), which lets an operator delete
    * "effective from batch N" by claiming id N on the stream's own
    * batch axis. Reads are ledger-driven (paths built from committed
    * entry ids — no existence checks), so probe metadata I/O stays
    * O(1) in the backlog. */
  private def lshTombstones(spark: SparkSession, indexDir: String,
      entries: Seq[graft.GenManifest.DeltaEntry], floor: Long,
      belowBatch: Long): Option[DataFrame] = {
    val tombs = entries.filter(e => e.tomb && e.id > floor && e.id <= belowBatch)
    if (tombs.isEmpty) None
    else Some(tombs.map { e =>
      spark.read.schema(lshTombReadSchema)
        .parquet(s"$indexDir/delta/t${e.id}")
        .select(col("doc_id").as("t_doc"), lit(e.id).as("t_del"))
    }.reduce(_ unionByName _)
      .groupBy("t_doc").agg(max(col("t_del")).as("t_del")))
  }

  /** Subtract the live tombstones from one source root's rows: a row
    * from source `srcId` (base = the manifest floor — every base row
    * predates every live tombstone) is dead iff a tombstone with id >
    * srcId names its key. Broadcast anti-join; identity when no
    * tombstone is live. */
  private[ops] def minusTombs(rows: DataFrame, tomb: Option[DataFrame],
      srcId: Long, keyCol: String = "doc_id"): DataFrame =
    tomb.fold(rows)(t => rows.join(broadcast(t),
      rows(keyCol) === t("t_doc") && t("t_del") > lit(srcId), "left_anti"))

  /** A generation's OWN prefix length, stored as `_prefix_len` INSIDE
    * the generation directory (written after the cell data, before the
    * manifest commit; GC retires it with the directory; Spark's file
    * index ignores underscore-prefixed files). Per-generation — not
    * global — so a re-bucketing compaction is atomic under the
    * manifest swap: a reader pinned to either manifest derives that
    * generation's cell paths from that generation's OWN length. */
  private def readGenPrefixLen(spark: SparkSession, root: String): Int =
    graft.GenLifecycle.requireMeta(spark, root, "_prefix_len").trim.toInt

  /** The prefix length a ledger cell name was written at —
    * `band_id=b/sig_p=<prefix>` carries it directly, so every delta's
    * length rides the ONE ledger read (zero extra round-trips) and a
    * delta appended at a stale length (the append-racing-rebucket
    * window) stays visible instead of silently unprobed. */
  private def cellNameLen(name: String): Int =
    name.length - name.indexOf("sig_p=") - "sig_p=".length

  /** The RESOLVED `(root, cellPaths)` list of a probe across the base
    * generation and the committed deltas above the manifest floor —
    * ONE metadata pass (manifest resolve, base-cell existence filter,
    * one ledger read) whose result every read the probe issues shares,
    * so the two-stage probe pays the SAME seam calls as the
    * single-plan form. `belowBatch` bounds which deltas count
    * (exclusive), so a REPLAYED ingest batch never probes against its
    * own torn output. `st`/`baseLen`/`entries` are RESOLVED BY THE
    * CALLER and shared with the probe's other metadata consumers (the
    * two-stage auto decision) — one manifest resolve and one
    * generation-length read per probe, whatever the mode (the
    * seam-call discipline IndexFsSpec pins). */
  private def lshCellPaths(spark: SparkSession, indexDir: String,
      st: graft.GenManifest.State, baseLen: Int,
      prefixesAt: Int => Seq[(Int, String)], belowBatch: Long,
      entries: Seq[graft.GenManifest.DeltaEntry])
      : Seq[(Long, String, Seq[String])] = {
    // cell names are derived PER ROOT from the probe's distinct sig
    // PREFIXES at that root's own prefix length — mixed-length serving
    // (the rebucket transition) needs no global length agreement, and
    // the caller's per-length resolver keeps the control-plane collect
    // bounded by the CELL SPACE, never the probe size
    def namesAt(len: Int): Seq[String] =
      prefixesAt(len).map { case (b, p) => s"band_id=$b/sig_p=$p" }
        .distinct.sorted
    // base: probed cells are sparse in the 2×16^len space, so the
    // existence filter stays — O(probe cells), constant in the backlog.
    // source id = the manifest floor: every base row was folded at or
    // below it, so every live tombstone (id > floor) applies to it.
    val baseRoot = lshBase(indexDir, st.gen)
    val base = {
      val paths = namesAt(baseLen).map(n => s"$baseRoot/$n")
        .filter(p => graft.IndexFs.isDir(spark, p))
      if (paths.isEmpty) None else Some((st.floor, baseRoot, paths))
    }
    // deltas: cell lists come from the ONE ledger read — zero
    // per-delta round-trips at probe time (the IVF serving discipline)
    val deltas = entries
      .filter(e => !e.tomb && e.id > st.floor && e.id < belowBatch).sortBy(_.id)
      .flatMap { e =>
        val root = s"$indexDir/delta/b${e.id}"
        val hit = e.cells.headOption.toSeq
          .flatMap(c => namesAt(cellNameLen(c)).filter(e.cells.toSet))
        if (hit.isEmpty) None
        else Some((e.id, root, hit.map(n => s"$root/$n")))
      }
    base.toSeq ++ deltas
  }

  /** Near-dup check of a document batch AGAINST the persisted index —
    * the ingest-time gate of a growing corpus ("is this new document a
    * near-copy of anything we already hold?"). Shape per batch:
    * shingle+sign the batch (batch-sized), collect its distinct
    * `(band_id, sig_p)` cells (control plane, ≤ 2×|batch|), read ONLY
    * those cells from base+deltas, candidate-join on the full band
    * signature, exact-Jaccard verify on the inlined shingle sets.
    * Returns `(probe_id, index_id, jac)` for every confirmed pair at
    * `threshold` or above. The probe bands at the index's persisted
    * prefix length (`lsh_meta`); there is no caller-side length. */
  def nearDupCheck(spark: SparkSession, indexDir: String,
      probeDocs: DataFrame, threshold: Double = jaccardThreshold,
      belowBatch: Long = Long.MaxValue,
      broadcastProbe: Boolean = true, exactFallback: Boolean = false,
      twoStage: Boolean = false): DataFrame =
    nearDupCheckReleasable(spark, indexDir, probeDocs, threshold,
      belowBatch, broadcastProbe, exactFallback, twoStage)._1

  /** [[nearDupCheck]] plus the release handle for the pinned probe
    * relation. A once-per-query caller can ignore it (the
    * ContextCleaner reclaims the blocks when the plan is dropped); a
    * LOOP caller — `dedupIngest` runs one check per micro-batch for
    * the stream's lifetime — must call release after the batch's
    * writes complete, or the pinned probe blocks accumulate without
    * bound (the Materialize.releasable discipline).
    *
    * `broadcastProbe` gates the probe-side broadcast hint: right for
    * the ingest path (a probe is micro-batch-sized), wrong for a
    * corpus-scale probe (e.g. `dedup_against_index` feeds half the
    * corpus with inlined shingle sets) — there the planner (AQE) picks
    * the join side from real sizes instead. */
  private[graft] def nearDupCheckReleasable(spark: SparkSession,
      indexDir: String, probeDocs: DataFrame, threshold: Double,
      belowBatch: Long, broadcastProbe: Boolean,
      exactFallback: Boolean, twoStage: Boolean = false): (DataFrame, () => Unit) = {
    val (out, _, release) = nearDupCheckWithProbe(spark, indexDir, probeDocs,
      threshold, belowBatch, broadcastProbe, exactFallback, Some(twoStage))
    (out, release)
  }

  /** The probe form the last [[nearDupCheckWithProbe]] call against
    * EACH index actually ran with — a test seam (the
    * `IndexFs.seamCalls` precedent), never a control input: the AUTO
    * decision is otherwise invisible from the outside because it is
    * decision-identical by construction. Keyed by indexDir so two
    * concurrent streams in one JVM never overwrite each other's
    * reading (a ServeSoak per-batch probe-form series must record its
    * OWN index's decision).
    *
    * Access-ordered LRU capped at 64 live index dirs: probe-heavy
    * long-lived JVMs create per-query temp index dirs (the TempDirs /
    * dedup_against_index pattern), and an unbounded map would hold one
    * entry per dead dir for the process lifetime. 64 concurrent
    * actively-probed indexes per JVM is far above any real topology;
    * eviction only ever forgets a TEST-SEAM reading, never a decision
    * input. */
  private val lastTwoStageDecisions =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, Boolean](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Boolean]): Boolean = size() > 64
      })
  private[graft] def lastTwoStageDecision(indexDir: String): Option[Boolean] =
    Option(lastTwoStageDecisions.get(indexDir))

  /** [[nearDupCheckReleasable]] that ALSO hands back the pinned probe
    * band-row relation `(probe_id, band_id, sig, sig_p, pss)` — the
    * most expensive per-batch computation (shingle + MinHash + set
    * collection). `dedupIngest` reuses it for the within-batch
    * self-check instead of re-banding the batch's text from scratch,
    * halving steady-state ingest CPU. The single release handle frees
    * the probe pin; call it only after every derived read is done.
    *
    * `twoStage` (the serving-path option, mirroring the IVF rerank
    * discipline of a cheap screen before the exact stage) splits the
    * cell read in two: stage 1 scans the probed cells COLUMN-PRUNED to
    * `(doc_id, band_id, sig)` — parquet never materializes the fat
    * inlined shingle-set column — and collects the band signatures
    * with at least one cross-id candidate (control plane, bounded by
    * the probe's own band rows ≤ 3×|batch|); stage 2 re-reads the
    * SAME resolved cell paths with `sig IN (survivors)` pushed to the
    * scan (cells are sig-sorted at write, so page stats skip the
    * shingle pages of every non-candidate row) and runs the exact
    * verify. Result-identical to the single-plan form by construction:
    * the screen keeps every `(band, sig)` that joins a cross-id pair —
    * exactly the pairs the one-pass join would emit — and the exact
    * stage recomputes the identical candidate join + Jaccard. A LOSSY
    * screen (e.g. a simhash hamming prefilter) is deliberately NOT
    * used: it would trade recall silently inside an operator whose
    * contract is every pair at exact Jaccard ≥ threshold. Use on
    * micro-batch-sized probes (the ingest/serving path, same bounded
    * collect discipline as IVF serving); a corpus-scale probe would
    * make the survivor collect data-plane-sized — keep the default
    * one-pass plan there.
    *
    * `twoStage = None` is AUTO: resolved per call FROM THE PROBED
    * CELLS — the base generation's persisted fat-cell tail
    * (`_cell_mass`) intersected with the cells THIS probe lands in;
    * two-stage only when a probed base cell carries at least
    * `twoStageFloor` rows (default: the measured constant
    * [[twoStageCellRowsFloor]]; nothing persisted in the index
    * overrides it — a `floor=N` tag an older layout carries is
    * ignored). The layout's hottest cell alone is NOT the signal: a
    * skewed layout can read "fat" while every probe lands
    * in page-sized cells, where the second scan is pure overhead
    * (measured — ServeSoak ×100 lsh_serve 0.72 s vs lsh_2stage
    * 0.78 s on a layout whose hottest clique cell cleared the floor).
    * A floor below [[cellMassTailFloor]] degrades to the layout-level
    * hottest answer (the tail doesn't record cells that small). */
  private[graft] def nearDupCheckWithProbe(spark: SparkSession,
      indexDir: String, probeDocs: DataFrame, threshold: Double,
      belowBatch: Long, broadcastProbe: Boolean,
      exactFallback: Boolean, twoStage: Option[Boolean] = Some(false),
      twoStageFloor: Long = twoStageCellRowsFloor): (DataFrame, DataFrame, () => Unit) =
    nearDupCheckWithProbeRows(spark, indexDir,
      len => bandRows(probeDocs, len, exactFallback), threshold,
      belowBatch, broadcastProbe, twoStage, twoStageFloor)

  /** [[nearDupCheck]] over an ARBITRARY `(doc_id, s)` probe element
    * relation against an index persisted by [[persistLshIndexElems]]
    * — the cross-modality serving form (the multimodal near-dup
    * probes byte grams through this). Same result contract
    * `(probe_id, index_id, jac, n_inter, n_union)`, same AUTO
    * two-stage machinery, same tombstone subtraction. */
  def nearDupCheckElems(spark: SparkSession, indexDir: String,
      probeElems: DataFrame, threshold: Double = jaccardThreshold,
      belowBatch: Long = Long.MaxValue, broadcastProbe: Boolean = true,
      twoStage: Option[Boolean] = Some(false)): DataFrame =
    nearDupCheckElemsWithProbe(spark, indexDir, probeElems, threshold,
      belowBatch, broadcastProbe, twoStage)._1

  /** [[nearDupCheckElems]] plus the pinned probe band rows and their
    * release handle — the ingest-loop form (the multimodal
    * `mmDedupIngest` reuses the pinned rows for its within-batch
    * self-check and delta append, the [[nearDupCheckWithProbe]]
    * discipline). */
  private[graft] def nearDupCheckElemsWithProbe(spark: SparkSession,
      indexDir: String, probeElems: DataFrame, threshold: Double,
      belowBatch: Long = Long.MaxValue, broadcastProbe: Boolean = true,
      twoStage: Option[Boolean] = Some(false)): (DataFrame, DataFrame, () => Unit) =
    nearDupCheckWithProbeRows(spark, indexDir,
      len => bandRowsOfElems(probeElems, len), threshold, belowBatch,
      broadcastProbe, twoStage)

  private def nearDupCheckWithProbeRows(spark: SparkSession,
      indexDir: String, probeBandsAt: Int => DataFrame, threshold: Double,
      belowBatch: Long, broadcastProbe: Boolean,
      twoStage: Option[Boolean] = Some(false),
      twoStageFloor: Long = twoStageCellRowsFloor): (DataFrame, DataFrame, () => Unit) = {
    // band the probe at the INDEX's persisted prefixLen: its sig_p is
    // the cell key a dedupIngest delta append of these rows lands in
    val (probe, release) = Materialize.releasable(
      probeBandsAt(readLshPrefixLen(spark, indexDir))
        .select(col("doc_id").as("probe_id"), col("band_id"), col("sig"),
          col("sig_p"), col("ss").as("pss")))
    def emptyResult = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        "probe_id BIGINT, index_id BIGINT, jac DOUBLE, n_inter INT, n_union INT"))
    // distinct (band, sig-PREFIX) pairs, collected lazily once per
    // distinct prefix length in play (base + any mixed-length deltas —
    // the rebucket transition; almost always ONE length). Each collect
    // is bounded by the cell space (≤ 2·16^len cells), NOT the probe
    // size: collecting full band signatures here (~3 rows per probe
    // doc) would turn the control-plane resolve into a data-plane
    // collect on a corpus-scale probe (`dedup_against_index` feeds
    // half the corpus through this path). The probe relation is
    // pinned, so each per-length pass is a cheap scan of cached rows.
    val prefixCache = scala.collection.mutable.Map.empty[Int, Seq[(Int, String)]]
    def prefixesAt(len: Int): Seq[(Int, String)] =
      prefixCache.getOrElseUpdate(len,
        probe.select(col("band_id"), substring(col("sig"), 1, len).as("p"))
          .distinct()
          .collect().map(r => (r.getInt(0), r.getString(1))).toSeq.sorted)
    // ONE manifest resolve + ONE generation-length read + ONE ledger
    // read per probe, shared by the auto decision, the tombstone set,
    // the cell-path resolution and both read stages — auto mode must
    // not double the probe's metadata round-trips (the seam-call
    // discipline IndexFsSpec pins)
    val st = graft.GenLifecycle.resolveOrThrow(spark, indexDir,
      "LSH", "persistLshIndex")
    val baseRoot = lshBase(indexDir, st.gen)
    val baseLen = readGenPrefixLen(spark, baseRoot)
    val entries = graft.GenManifest.readLedger(spark, indexDir)
    // committed-delta mass per probed cell rides the ledger entries
    // (zero extra reads): _cell_mass only changes at a fold, so an
    // append-heavy stream can fatten probed cells past the crossover
    // while the base summary still answers one-pass — the per-cell
    // row counts the appends recorded close that window. A delta cell
    // at a different prefix length counts when prefix-compatible
    // (conservative over-attribution on the transient mixed-length
    // layouts a rebucket leaves).
    val liveDataEntries = entries
      .filter(e => !e.tomb && e.id > st.floor && e.id < belowBatch)
    // AUTO resolution (twoStage = None): intersect the base
    // generation's persisted fat-cell tail — PLUS the ledger-recorded
    // committed-delta mass — with THIS probe's cells at the base
    // length. prefixesAt caches per length, so the pass is shared
    // with lshCellPaths below, and the metadata cost is one
    // O(fat-cells) file read. Explicit Some(x) skips it.
    val twoStageEff = twoStage.getOrElse {
      val (hottest, tail, truncated) = readGenCellMassFull(spark, baseRoot)
      if (twoStageFloor < cellMassTailFloor) hottest >= twoStageFloor
      else {
        val probed = prefixesAt(baseLen)
        probed.exists { case (b, p) =>
          tail.getOrElse(s"band_id=$b/sig_p=$p", 0L) +
            deltaMassFor(liveDataEntries, b, p) >= twoStageFloor
        } ||
          // truncated tail: a probed cell ABSENT from it is unknown
          // (could be fat, cut off by the cap), not known-thin —
          // degrade to the layout-level hottest answer rather than
          // silently forfeiting the two-stage win on exactly the
          // many-fat-cells layouts truncation happens on
          (truncated && probed.exists { case (b, p) =>
            !tail.contains(s"band_id=$b/sig_p=$p")
          } && hottest >= twoStageFloor)
      }
    }
    lastTwoStageDecisions.put(indexDir, twoStageEff)
    val tomb = lshTombstones(spark, indexDir, entries, st.floor, belowBatch)
    val roots = lshCellPaths(spark, indexDir, st, baseLen, prefixesAt,
      belowBatch, entries)
    if (roots.isEmpty) return (emptyResult, probe, release)
    def cellFrames: Seq[DataFrame] =
      roots.map { case (srcId, root, paths) =>
        minusTombs(readBandRoot(spark, root, paths), tomb, srcId) }
    val perRoot =
      if (!twoStageEff) cellFrames
      else {
        val survivors = cellFrames
          .map(_.select(col("doc_id"), col("band_id"), col("sig")))
          .reduce(_ unionByName _)
          .join(broadcast(probe.select(col("probe_id"), col("band_id"),
            col("sig")).distinct()), Seq("band_id", "sig"))
          .filter(col("probe_id") =!= col("doc_id"))
          .select("sig").distinct()
          .collect().map(_.getString(0)).sorted.toSeq
        if (survivors.isEmpty) return (emptyResult, probe, release)
        // sig alone (not (band, sig)) keeps the filter sargable; a
        // cross-band sig collision only widens the scan — the exact
        // stage still joins on BOTH keys
        cellFrames.map(_.where(col("sig").isin(survivors: _*)))
      }
    val index = perRoot.reduce(_ unionByName _)
      .select(col("doc_id").as("index_id"), col("band_id"), col("sig"),
        col("ss").as("iss"))
    val inter = size(array_intersect(col("pss"), col("iss")))
    val jac = inter.cast("double") /
      (size(col("pss")) + size(col("iss")) - inter)
    val probeSide = if (broadcastProbe) broadcast(probe) else probe
    val out = index.join(probeSide, Seq("band_id", "sig"))
      // a doc is never a near-dup OF ITSELF: ids are globally unique
      // in this contract, and a crash-replayed ingest batch whose
      // delta was already COMPACTED finds its own docs in the base
      // generation (belowBatch can only exclude deltas) — without
      // this guard the replay would flag every previously-accepted
      // doc as dup_of its own id and corrupt the rewritten decision
      // log
      .filter(col("probe_id") =!= col("index_id"))
      // a pair sharing both bands appears twice — collapse before the
      // (per-pair) verify; the sets ride along, identical per doc
      .groupBy("probe_id", "index_id")
      .agg(first(col("pss")).as("pss"), first(col("iss")).as("iss"))
      .select(col("probe_id"), col("index_id"), jac.as("jac"),
        inter.as("n_inter"),
        (size(col("pss")) + size(col("iss")) - inter).as("n_union"))
      .filter(col("jac") >= threshold)
    (out, probe, release)
  }

  /** Confirmed-pair count above which the ingest loop falls back to
    * the distributed [[connectedComponents]] instead of collecting
    * pairs to the driver: distinct sigs bound the SURVIVOR collect by
    * the batch, but the PAIR set is quadratic in a worst-case batch
    * (n near-identical non-exact docs confirm n(n-1)/2 pairs). The
    * collect transiently materializes GenericRows AND boxed Tuple3s —
    * roughly 150–200 bytes per pair, not the 24 raw field bytes — so
    * the cap is sized to ~40–50 MB of transient driver footprint
    * (2^18 pairs), far above any healthy batch and safe on a lean
    * driver. */
  private[graft] val inBatchPairsDriverCap = 1L << 18

  /** Driver-side family labeling of one micro-batch's confirmed
    * near-dup pairs — the batch-local twin of [[connectedComponents]]
    * (which stays the corpus-scale form): the pair set is bounded by
    * the batch's own size, so a local union-find labels it for free
    * where the distributed min-label propagation pays an iteration of
    * Spark jobs per hop. Semantics identical by construction: each
    * connected component's MINIMUM doc survives; every other member
    * is flagged `(doc, component_min, best incident Jaccard)` —
    * transitive (a~b, b~c puts c in a's family even when a~c itself
    * is below threshold), order-independent. Jaccards are returned
    * RAW; display rounding stays in Spark at the caller (the
    * shortest-decimal-string HALF_UP class of divergence). */
  private[graft] def inBatchFamilies(
      pairs: Seq[(Long, Long, Double)]): Seq[(Long, Long, Double)] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    // iterative find + full path compression: the recursive form
    // overflows the driver stack on an adversarial union order (a
    // path graph processed largest-first leaves an O(n)-deep chain)
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (c != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    val bestJac = scala.collection.mutable.Map.empty[Long, Double]
    for ((a, b, j) <- pairs) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      bestJac(a) = math.max(bestJac.getOrElse(a, 0.0), j)
      bestJac(b) = math.max(bestJac.getOrElse(b, 0.0), j)
    }
    bestJac.keys.toSeq.sorted
      .map(d => (d, find(d)))
      .collect { case (d, root) if d != root => (d, root, bestJac(d)) }
  }

  /** Confirmed near-dup pairs WITHIN one document batch (no persisted
    * index involved): band the batch, self-join within (band_id, sig),
    * verify with exact shingle-set Jaccard — the batch-local leg of
    * dedup-at-ingest, closing the same-batch hole the index probe
    * cannot see (two near-identical docs arriving together both miss
    * the index and would otherwise both join it). Output: one row per
    * confirmed pair, `doc_a < doc_b`, with its Jaccard. */
  private[graft] def nearDupPairsLocal(docs: DataFrame,
      threshold: Double = jaccardThreshold, prefixLen: Int = 2): DataFrame =
    nearDupPairsLocalReleasable(docs, threshold, prefixLen)._1

  /** [[nearDupPairsLocal]] plus the release handle for the pinned
    * pair relation — the loop form: `dedupIngest` runs one self-check
    * per micro-batch for the stream's lifetime, and a non-releasable
    * pin per batch accumulates blocks without bound (the same
    * discipline as [[nearDupCheckReleasable]]). */
  private[graft] def nearDupPairsLocalReleasable(docs: DataFrame,
      threshold: Double = jaccardThreshold,
      prefixLen: Int = 2): (DataFrame, () => Unit) = {
    val (rows, release) = Materialize.releasable(bandRows(docs, prefixLen))
    val out = nearDupPairsFromBandRows(rows, threshold)
    release()
    out
  }

  /** The self-join + verify leg of the within-batch check over
    * ALREADY-BANDED rows `(doc_id, band_id, sig, ss)` — so a caller
    * that has the batch's band rows pinned (the ingest path, via
    * [[nearDupCheckWithProbe]]) never re-runs the banding pipeline.
    * Returns the confirmed pairs materialized releasably. */
  private[graft] def nearDupPairsFromBandRows(rows: DataFrame,
      threshold: Double): (DataFrame, () => Unit) = {
    val a = rows.select(col("doc_id").as("doc_a"), col("band_id"),
      col("sig"), col("ss").as("sa"))
    val b = rows.select(col("doc_id").as("doc_b"), col("band_id"),
      col("sig"), col("ss").as("sb"))
    val inter = size(array_intersect(col("sa"), col("sb")))
    val jac = inter.cast("double") /
      (size(col("sa")) + size(col("sb")) - inter)
    Materialize.releasable(
      a.join(b, Seq("band_id", "sig"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(first(col("sa")).as("sa"), first(col("sb")).as("sb"))
        .select(col("doc_a"), col("doc_b"), jac.as("jac"))
        .filter(col("jac") >= threshold))
  }

  /** Fold the committed deltas into a NEW base generation and commit
    * it by atomic manifest rename — the LSH twin of
    * `Similarity.compactIvfIndex`, on the [[graft.GenManifest]]
    * protocol. Crash-recoverable: the next generation is fully written
    * BEFORE the manifest commit, so a crash anywhere leaves the
    * previous manifest serving a complete base+deltas view and a
    * re-run resumes by overwriting the torn generation. A call with no
    * new deltas commits a manifest-only bump, which advances the
    * keep-two GC horizon — absorbed deltas and the previous generation
    * retire on the SECOND call after their absorption, never while a
    * reader pinned to the previous manifest might still list them. */
  def compactLshIndex(spark: SparkSession, indexDir: String,
      maxCellRows: Long = defaultMaxCellRows,
      newPrefixLen: Option[Int] = None): Unit = {
    newPrefixLen.foreach(l => require(l >= 1 && l <= 16,
      s"newPrefixLen=$l: must be in [1, 16]"))
    val st = graft.GenManifest.resolve(spark, indexDir).getOrElse(return)
    val entries = graft.GenManifest.readLedger(spark, indexDir)
      .filter(_.id > st.floor)
    val deltas = entries.filterNot(_.tomb).map(_.id).sorted
    val tombIds = entries.filter(_.tomb).map(_.id).sorted
    val curLen = readGenPrefixLen(spark, lshBase(indexDir, st.gen))
    val targetLen = newPrefixLen.getOrElse(curLen)
    if (deltas.nonEmpty || tombIds.nonEmpty || targetLen != curLen) {
      // tombstones are APPLIED by the fold (each source's rows minus
      // every delete above that source — the same log-ordered rule
      // serving uses) and then retired under the new floor; the
      // physical drop is what makes a takedown durable and what the
      // downward-rebucket policy's "corpus that shrank" presumes
      val tomb = lshTombstones(spark, indexDir, entries, st.floor,
        Long.MaxValue)
      val srcRoots = (st.floor, lshBase(indexDir, st.gen)) +:
        deltas.map(id => (id, s"$indexDir/delta/b$id"))
      val all = srcRoots
        .map { case (src, root) =>
          minusTombs(readBandRoot(spark, root, Seq(root)), tomb, src) }
        .reduce(_ unionByName _)
      // ALWAYS re-derive the cell key at the target length (one
      // projection on the fold the compaction pays anyway): folded
      // rows may carry sig_p at a DIFFERENT length — a delta appended
      // by a writer that read the pre-rebucket pointer — and keeping
      // their stored prefix would land them in cells the new
      // generation's probes never list
      val relabeled = all.withColumn("sig_p",
        substring(col("sig"), 1, targetLen))
      val newBase = lshBase(indexDir, st.gen + 1)
      writeBandCells(relabeled, newBase, maxCellRows)
      graft.GenLifecycle.writeMeta(spark, newBase, "_prefix_len",
        targetLen.toString)
      writeGenCellMass(spark, newBase)
      graft.GenLifecycle.writeGenId(spark, newBase)
      // a tombstone RETIRES (floor-covers) only once folded DATA
      // reaches its id: retiring t<N> while a data batch with id <= N
      // is still in flight would raise the floor past that batch and
      // orphan it when it commits (the fold races the sequential
      // writer — only data ids prove the axis has advanced). An
      // uncovered tombstone stays live: already applied to this fold,
      // its subtraction is a no-op until a lower-id data batch lands —
      // exactly the rows it must still kill.
      val maxData = if (deltas.nonEmpty) deltas.max else st.floor
      val folded = deltas ++ tombIds.filter(_ <= maxData)
      graft.GenManifest.commit(spark, indexDir, st.seq + 1, st.gen + 1,
        floor = if (folded.nonEmpty) folded.max else st.floor)
      // subsequent APPENDS band at the new length; a writer that read
      // the old pointer mid-rebucket still stays servable — its
      // delta's ledger cell names carry their own length and probes
      // derive per-delta paths from them
      graft.GenLifecycle.writeMeta(spark, indexDir, "lsh_meta",
        targetLen.toString)
    } else {
      graft.GenManifest.commit(spark, indexDir, st.seq + 1, st.gen, st.floor)
    }
    graft.GenManifest.gc(spark, indexDir, Seq(lshPrefix))
  }

  /** HOT-CELL RE-BUCKETING — the maintenance op `lshIndexStats` exists
    * to trigger: when a corpus outgrows its cell count (per-cell row
    * mass beyond what a probe should pay), fold everything into a new
    * generation whose cells use a LONGER sig prefix (16× more cells
    * per added hex char; a shorter prefix coarsens a fragmented
    * layout). Atomic under the manifest swap like any compaction — a
    * reader pinned to either manifest derives cell paths from that
    * generation's own `_prefix_len` — and append-safe: a delta
    * committed by a writer that read the pre-rebucket length stays
    * probed at ITS length via the ledger cell names until the next
    * compaction folds it. */
  def rebucketLshIndex(spark: SparkSession, indexDir: String,
      newPrefixLen: Int, maxCellRows: Long = defaultMaxCellRows): Unit =
    compactLshIndex(spark, indexDir, maxCellRows, Some(newPrefixLen))

  /** Operational stats of a persisted LSH index: `(root, band_id,
    * sig_p, n_rows)` per band cell across the live base generation and
    * every committed delta — the delta-backlog (compaction cadence)
    * and hot-cell (re-bucketing) monitoring signal
    * ([[graft.GenManifest]] cellStats over the `bands` layout). */
  def lshIndexStats(spark: SparkSession, indexDir: String): DataFrame =
    graft.GenManifest.cellStats(spark, indexDir, lshPrefix,
      Seq("band_id", "sig_p"), bandReadSchema)

  /** The probe leg shared by the build+serve and serve-only forms:
    * odd-id documents against a persisted even-id index. The probe
    * side is HALF THE CORPUS (inlined shingle sets), so the broadcast
    * hint is explicitly off — AQE picks the join build side from real
    * sizes. */
  private def probeOddAgainstIndex(spark: SparkSession, dir: String,
      indexDir: String): DataFrame =
    nearDupCheck(spark, indexDir,
      Tables.table(spark, dir, "documents").filter(col("doc_id") % 2 === 1),
      broadcastProbe = false)
      .select(col("probe_id"), col("index_id"),
        graft.QueryDef.roundedRatio(col("n_inter"), col("n_union"), 6).as("jac"))
      .orderBy("probe_id", "index_id")

  /** One persisted even-id LSH index per sfDir per session, built
    * lazily — the serve-only query's amortized index, and the
    * session-cache that keeps repeated bench passes measuring SERVING
    * cost instead of re-paying the build. Dirs are registered for
    * JVM-exit cleanup. */
  private val cachedIndexDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def cachedLshIndexDir(spark: SparkSession, dir: String): String =
    cachedIndexDirs.computeIfAbsent(dir, _ => {
      val indexDir = graft.TempDirs.create("lsh-index-cache")
      persistLshIndex(
        Tables.table(spark, dir, "documents").filter(col("doc_id") % 2 === 0),
        indexDir, prefixLen = 1, exactFallback = false)
      indexDir
    })

  /** Shared oracle of the odd-probe-vs-even-index family; the
    * takedown variants derive theirs by [[graft.QueryDef
    * .replacedOracle]] on the candidate split's WHERE clause. */
  private val splitProbeOracle =
    Some(s"""$lshSplitCtes
            |SELECT probe_id, index_id, ${graft.QueryDef.roundedRatioSql("ni", "nu", 6)} AS jac
            |FROM j WHERE jac >= $jaccardThreshold
            |ORDER BY probe_id, index_id""".stripMargin)

  // private[ops]: Multimodal's byte-gram oracles derive their takedown
  // clauses from the SAME candidate-split anchor (replacedOracle
  // requires an exact textual match, so the anchor must have ONE
  // definition — ADVICE r14)
  private[ops] val splitCandAnchor = "WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0"

  /** Dedup-against-index, oracle-checked end to end: the even-id half
    * of `documents` is persisted as the LSH index, the odd-id half
    * probes it, and every confirmed cross-split near-dup pair comes
    * back with its exact Jaccard. The oracle recomputes the identical
    * candidates+verify across the same split in SQL.
    *
    * TIMING CONTRACT (deliberate): this form rebuilds AND persists the
    * index inside the measured query, so its bench number is
    * build+write+serve end to end — the index lifecycle cost. The
    * serving cost alone is `dedup_against_index_serve_only` below. */
  val dedupAgainstIndex = QueryDef(
    "dedup_against_index",
    splitProbeOracle,
    (spark, dir) => {
      val docs = Tables.table(spark, dir, "documents")
      val indexDir = graft.TempDirs.create("lsh-index")
      // 32 cells at test SFs — the cell count is a corpus-size knob.
      // fallback OFF: the oracle mirrors the shingle pipeline only
      persistLshIndex(docs.filter(col("doc_id") % 2 === 0), indexDir,
        prefixLen = 1, exactFallback = false)
      probeOddAgainstIndex(spark, dir, indexDir)
    })

  /** The SERVE-ONLY leg of [[dedupAgainstIndex]]: identical probe,
    * identical oracle, but the index is the session-cached persisted
    * one — built once per sfDir, reused across invocations. This is
    * the number a serving regression shows up in (the build+serve form
    * can hide a 2× serving slowdown under build cost). */
  val dedupAgainstIndexServeOnly = QueryDef(
    "dedup_against_index_serve_only",
    dedupAgainstIndex.oracle,
    (spark, dir) =>
      probeOddAgainstIndex(spark, dir, cachedLshIndexDir(spark, dir)))

  /** [[dedupAgainstIndex]] with a RETENTION DELETE in the lifecycle:
    * the even-id half is persisted, every even id divisible by 10 is
    * then tombstone-deleted ([[deleteFromLshIndex]]), and the odd-id
    * probe runs against the shrunk index — confirmed pairs must never
    * name a deleted document. The oracle excludes the deleted ids from
    * the candidate INDEX side of the same split (their shingle sets
    * never pair); threshold and rounding identical to the base query.
    * This is the oracle gate for the takedown path: a tombstone that
    * leaked (or over-deleted) flips rows/hash here. */
  val dedupAgainstIndexAfterDelete = QueryDef(
    "dedup_against_index_after_delete",
    graft.QueryDef.replacedOracle(splitProbeOracle,
      splitCandAnchor, s"$splitCandAnchor AND b.doc_id % 10 <> 0"),
    (spark, dir) => {
      val docs = Tables.table(spark, dir, "documents")
      val indexDir = graft.TempDirs.create("lsh-index-del")
      persistLshIndex(docs.filter(col("doc_id") % 2 === 0), indexDir,
        prefixLen = 1, exactFallback = false)
      deleteFromLshIndex(spark, indexDir,
        docs.filter(col("doc_id") % 10 === 0).select("doc_id"), batchId = 1L)
      probeOddAgainstIndex(spark, dir, indexDir)
    })

  /** The CDC-envelope → index-takedown COMPOSITION, oracle-checked:
    * the deletion keys arrive as RAW Debezium connector records (op
    * `d`, key in the before-image — the reference's delete path,
    * `app/dwd/BaseDbApp.java:43` consuming
    * `app/function/MyDeserializationSchema.java` envelopes), are
    * parsed by [[Cdc.fromDebezium]], filtered to `type = 'delete'`,
    * and drive [[deleteFromLshIndex]] — the exact chain
    * `StreamOps.dedupIngestCdc` runs per micro-batch, here in its
    * oracle-checkable batch form. Index = even ids; takedown = every
    * doc_id % 6 == 0 (a different victim set than the after-delete
    * gate, so the two rows can never shadow each other); probe = odd
    * ids. The oracle excludes the victims from the candidate index
    * side only. */
  val dedupAgainstIndexCdcDelete = QueryDef(
    "dedup_against_index_cdc_delete",
    graft.QueryDef.replacedOracle(splitProbeOracle,
      splitCandAnchor, s"$splitCandAnchor AND b.doc_id % 6 <> 0"),
    (spark, dir) => {
      val docs = Tables.table(spark, dir, "documents")
      val indexDir = graft.TempDirs.create("lsh-index-cdc-del")
      persistLshIndex(docs.filter(col("doc_id") % 2 === 0), indexDir,
        prefixLen = 1, exactFallback = false)
      // the raw connector record: delete ops carry the key in the
      // BEFORE image (after = null), exactly as the connector emits
      val raw = docs.filter(col("doc_id") % 6 === 0)
        .select(concat(
          lit("""{"before":{"doc_id":"""), col("doc_id"),
          lit("""},"after":null,"source":{"db":"graft","table":"documents"},"op":"d","ts_ms":1704067200000}"""))
          .as("value"))
      val delIds = Cdc.fromDebezium(raw)
        .filter(col("type") === "delete")
        .select(get_json_object(col("before"), "$.doc_id")
          .cast("long").as("doc_id"))
      deleteFromLshIndex(spark, indexDir, delIds, batchId = 1L)
      probeOddAgainstIndex(spark, dir, indexDir)
    })

  /** n-gram Jaccard verification over the LSH candidates: exact shingle
    * set Jaccard, thresholded — the verify stage of the dedup pipeline.
    * Runs on candidates only, never all pairs, and per pair as an array
    * intersection (set sizes are document-bounded), not a shingle-level
    * join explosion. */
  val dedupJaccardNgram = QueryDef(
    "dedup_jaccard_ngram",
    Some(s"""$jaccardCtes
            |SELECT doc_a, doc_b, ${graft.QueryDef.roundedRatioSql("ni", "nu", 6)} AS jaccard
            |FROM j
            |WHERE jac >= $jaccardThreshold
            |ORDER BY doc_a, doc_b""".stripMargin),
    (spark, dir) =>
      scoredPairs(spark, dir)
        .filter(col("jac") >= jaccardThreshold)
        .select(col("doc_a"), col("doc_b"),
          graft.QueryDef.roundedRatio(col("n_inter"), col("n_union"), 6).as("jaccard"))
        .orderBy("doc_a", "doc_b"))

  /** SimHash: 16-bit signature from per-token md5 nibbles; documents
    * with equal signatures are near-dup candidates. The bit source is
    * the high bit of hex nibble b of md5(token) — identical across
    * engines. */
  val dedupSimhash: QueryDef = {
    val bits = 16
    val high = Seq("8", "9", "a", "b", "c", "d", "e", "f")
    def sqlBit(b: Int) =
      s"CASE WHEN SUM(CASE WHEN substr(md5(w), ${b + 1}, 1) IN ('${high.mkString("','")}') THEN 1 ELSE -1 END) > 0 THEN '1' ELSE '0' END"
    val oracleSig = (0 until bits).map(sqlBit).mkString(" || ")
    def sparkBit(b: Int): Column =
      when(sum(when(substring(md5(col("w")), b + 1, 1).isin(high: _*), 1).otherwise(-1)) > 0, "1").otherwise("0")
    QueryDef(
      "dedup_simhash",
      Some(s"""SELECT doc_id, $oracleSig AS simhash
              |FROM (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
              |WHERE length(w) > 0
              |GROUP BY doc_id
              |ORDER BY doc_id""".stripMargin),
      (spark, dir) =>
        Tables.table(spark, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w")) > 0)
          .distinct()
          .groupBy("doc_id")
          .agg(concat((0 until bits).map(sparkBit): _*).as("simhash"))
          .orderBy("doc_id"))
  }

  /** Hard ceiling for the quadratic all-pairs cosine baseline: above
    * this corpus size the O(n²) join cannot be invoked accidentally —
    * the caller is pointed at the scale paths instead. Overridable for
    * deliberate larger runs via the GRAFT_COSINE_MAX_ROWS env var (or
    * the same-named system property, which tests use). */
  private[graft] def cosineMaxRows: Long =
    sys.props.get("GRAFT_COSINE_MAX_ROWS")
      .orElse(sys.env.get("GRAFT_COSINE_MAX_ROWS"))
      .map(_.toLong).getOrElse(100000L)

  /** Embedding-cosine near-dup: all pairs above a cosine threshold.
    * Baseline (brute-force) path — the LSH-bucketed scale path is
    * `sim_topk_lsh` in Similarity. Dot products are per-row left folds
    * (deterministic in both engines). Guarded: refuses to run above
    * [[cosineMaxRows]] input rows, because the all-pairs join is the
    * declared NON-scale exact baseline (use `sim_topk_lsh` /
    * `sim_topk_ivf` or MinHash-LSH dedup on a large corpus). */
  val dedupEmbeddingCosine = QueryDef(
    "dedup_embedding_cosine",
    Some("""WITH e AS (SELECT vec_id, embedding FROM embeddings)
           |SELECT va, vb, ROUND(cos, 6) AS cos_sim FROM (
           |  SELECT a.vec_id AS va, b.vec_id AS vb,
           |    list_reduce(list_transform(generate_series(1, 64), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x, y) -> x + y)
           |    / (sqrt(list_reduce(list_transform(generate_series(1, 64), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), (x, y) -> x + y))
           |     * sqrt(list_reduce(list_transform(generate_series(1, 64), i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x, y) -> x + y))) AS cos
           |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
           |WHERE cos > 0.30
           |ORDER BY va, vb""".stripMargin),
    (spark, dir) => {
      // Guard the quadratic baseline LAZILY, inside the plan: a 1-row
      // count relation is cross-joined in and assert_true fails the
      // job before the O(n²) join materializes. Keeping the guard in
      // the plan (rather than an eager count() here) keeps the
      // builder pure — no hidden Spark job per construction.
      val guard = broadcast(Tables.table(spark, dir, "embeddings")
        .agg(count(lit(1)).as("_corpus_rows")))
      val e = Tables.table(spark, dir, "embeddings")
        .crossJoin(guard)
        // assert_true returns NULL when the guard holds, so the filter
        // passes every row but cannot be pruned out of the plan
        .where(assert_true(col("_corpus_rows") <= cosineMaxRows,
          lit(s"dedup_embedding_cosine is the O(n²) exact baseline and refuses to run " +
            s"above $cosineMaxRows rows (set GRAFT_COSINE_MAX_ROWS to override). " +
            "Use sim_topk_lsh / sim_topk_ivf / dedup_minhash_lsh at scale.")).isNull)
        .drop("_corpus_rows")
        .withColumn("norm", sqrt(Similarity.dot(col("embedding"), col("embedding"))))
      val a = e.as("a")
      val b = e.as("b")
      val cos = Similarity.dot(col("a.embedding"), col("b.embedding")) /
        (col("a.norm") * col("b.norm"))
      a.join(b, col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"), cos.as("cos"))
        .filter(col("cos") > 0.30)
        .select(col("va"), col("vb"), round(col("cos"), 6).as("cos_sim"))
        .orderBy("va", "vb")
    })

  /** Embedding near-dup at scale: the LSH-bucketed counterpart of
    * `dedup_embedding_cosine`. Candidate pairs are generated only
    * WITHIN a sign-bit hyperplane bucket (the same 8-bit family
    * `sim_topk_lsh` probes), then verified with the exact
    * deterministic-fold cosine. The self-join key is the bucket — at
    * cluster scale the corpus is partitioned (or bucketed on write) by
    * this column, so candidate generation is per-partition-local and
    * the O(n²) blowup of the baseline never materializes; recall is
    * traded per missing band, exactly like MinHash-LSH banding for
    * text. The small bucketed relation is cached because a self-join
    * recomputes each side otherwise (CLAUDE.md gotcha). */
  val dedupEmbeddingLsh = QueryDef(
    "dedup_embedding_lsh",
    Some(s"""WITH e AS (SELECT vec_id, embedding, ${Similarity.bucketExpr("embedding")} AS bucket FROM embeddings)
            |SELECT va, vb, bucket, ROUND(cos, 6) AS cos_sim FROM (
            |  SELECT a.vec_id AS va, b.vec_id AS vb, a.bucket AS bucket,
            |    ${Similarity.dd("a.embedding", "b.embedding")}
            |    / (sqrt(${Similarity.dd("a.embedding", "a.embedding")})
            |     * sqrt(${Similarity.dd("b.embedding", "b.embedding")})) AS cos
            |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
            |WHERE cos > 0.30
            |ORDER BY va, vb""".stripMargin),
    (spark, dir) => {
      Similarity.bucketedCosinePairs(
          Tables.table(spark, dir, "embeddings"), ordered = true,
          minCos = Some(0.30))
        .select(col("va"), col("vb"), col("bucket"),
          round(col("cos"), 6).as("cos_sim"))
        .orderBy("va", "vb")
    })

  /** Near-dup cluster formation: connected components over the
    * Jaccard-confirmed pair graph; every clustered doc maps to its
    * component's minimum doc_id (the canonical survivor). Spark side:
    * min-label propagation — every node carries exactly ONE label (its
    * current component minimum); each iteration pushes labels across
    * edges and keeps the per-node min. State is O(V) rows at every
    * iteration (a transitive-closure reach set would be O(V²) per
    * component — fatal on a 100 TB corpus where one boilerplate family
    * can span millions of docs), and the iteration count is bounded by
    * the component diameter. Oracle: recursive CTE to the same
    * fixpoint — both compute true components, so results agree by
    * definition, not by implementation coincidence. */
  val dedupClusters = QueryDef(
    "dedup_clusters",
    Some(s"""$jaccardCtes,
            |edges AS (SELECT doc_a, doc_b FROM j WHERE jac >= $jaccardThreshold),
            |walk AS (SELECT doc_a AS a, doc_b AS b FROM edges
            |         UNION SELECT doc_b, doc_a FROM edges),
            |reach AS (
            |  SELECT a AS src, a AS dst FROM (SELECT DISTINCT a FROM walk)
            |  UNION
            |  SELECT r.src, w.b FROM reach r JOIN walk w ON r.dst = w.a)
            |SELECT src AS doc_id, CAST(min(dst) AS BIGINT) AS cluster_rep
            |FROM reach
            |GROUP BY src
            |ORDER BY doc_id""".stripMargin.replace("WITH w AS", "WITH RECURSIVE w AS")),
    (spark, dir) => connectedComponents(
      scoredPairs(spark, dir)
        .filter(col("jac") >= jaccardThreshold)
        .select(col("doc_a"), col("doc_b")))
      .select(col("node").as("doc_id"), col("label").cast("long").as("cluster_rep"))
      .orderBy("doc_id"))

  /** Min-label-propagation connected components over an undirected edge
    * list (`doc_a`, `doc_b`). Returns one row per node: (node, label)
    * with label = the component's minimum node id. Per-iteration state
    * is exactly |V| rows; each iteration is one shuffle-join + one
    * min-aggregate, checkpointed so the lineage stays flat. Labels are
    * monotonically non-increasing, so convergence = "no label
    * decreased this round".
    *
    * Messages travel across the input edges AND the current label
    * stars (node ↔ label, pointer-doubling shortcuts): with edge-only
    * propagation the iteration count is the graph DIAMETER — a
    * chain-shaped near-dup family (drifting boilerplate versions, L
    * incremental edits) would take L driver-coordinated Spark jobs at
    * 100 TB. Star shortcuts halve remaining chain length every round
    * (label(v) learns label(label(v))), so convergence is O(log V) on
    * any shape; star nodes are in the same component by the labeling
    * invariant, so components never bleed. Extra state stays O(V)
    * (one star edge pair per non-root node). */
  def connectedComponents(edges: DataFrame): DataFrame =
    connectedComponentsCore(edges)._1

  /** [[connectedComponents]] plus the iteration count — package-visible
    * so the O(log) convergence bound is testable (PropertySpec runs a
    * worst-case path graph). */
  private[graft] def connectedComponentsIters(edges: DataFrame): (DataFrame, Int) = {
    val (labels, iters, _) = connectedComponentsCore(edges)
    (labels, iters)
  }

  /** [[connectedComponents]] plus the release handle for the pinned
    * final labels — the loop form for per-micro-batch callers
    * (`dedupIngest`); one-shot callers use the plain form and let the
    * ContextCleaner reclaim the result with the plan. */
  private[graft] def connectedComponentsReleasable(edges: DataFrame): (DataFrame, () => Unit) = {
    val (labels, _, release) = connectedComponentsCore(edges)
    (labels, release)
  }

  private def connectedComponentsCore(edges: DataFrame): (DataFrame, Int, () => Unit) = {
    // per-round RELEASABLE materialization: each round pins its labels
    // relation and frees the previous round's blocks once the new one
    // is computed, so the loop's live storage stays O(V) instead of
    // O(V × rounds). The round-5 SoakOrder run (PERF.md) confirms the
    // post-fix loop leaves no session-state drag: a full session of
    // soak load AFTER repeated CC runs made the probe FASTER
    // (last/first = 0.53, warmup-dominated), not slower.
    val (walk, releaseWalk) = Materialize.releasable(
      edges.select(col("doc_a").as("a"), col("doc_b").as("b"))
        .unionByName(edges.select(col("doc_b").as("a"), col("doc_a").as("b")))
        .distinct())
    var (labels, releaseLabels) = Materialize.releasable(
      walk.select(col("a").as("node")).distinct()
        .withColumn("label", col("node")))
    // labels only ever decrease, so Σlabel strictly decreases until
    // the fixpoint — convergence is one tiny aggregate over the
    // checkpointed relation instead of a self-join. decimal(38,0)
    // keeps the sum exact (ANSI long sum could overflow on wide ids);
    // the sum over ZERO rows is SQL null → coalesce to 0 so an empty
    // edge set (no pair cleared the threshold) converges immediately
    // instead of NPEing.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("label").cast("decimal(38,0)"))).head().getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
    var prevSum = labelSum(labels)
    var converged = false
    var iters = 0
    while (!converged) {
      iters += 1
      // star shortcuts: every non-root node exchanges labels with its
      // current label node (both directions), doubling the distance a
      // minimum travels per round. ADAPTIVE: the first two rounds run
      // edge-only — LSH near-dup families are clique-like and converge
      // in two rounds, so they never pay the star-union cost; a graph
      // still unconverged by round 3 has long chains, and the stars
      // take it the rest of the way in O(log V).
      // only the label→node direction shortcuts: it hands node v its
      // grandparent label (labels(label(v)).label). The reverse
      // direction is a provable no-op — label(label(v)) ≤ label(v)
      // already holds (labels start at self and only decrease), so
      // messaging label(v) with label(v) can never lower its min —
      // and would shuffle |V| dead rows per round.
      val hops =
        if (iters <= 2) walk
        else walk.unionByName(
          labels.filter(col("node") =!= col("label"))
            .select(col("label").as("a"), col("node").as("b")))
      val msgs = labels.join(hops, labels("node") === hops("a"))
        .select(col("b").as("node"), col("label"))
      val (next, releaseNext) = Materialize.releasable(
        labels.unionByName(msgs)
          .groupBy("node").agg(min(col("label")).as("label")))
      val nextSum = labelSum(next)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      releaseLabels() // next is pinned; the prior round's blocks go
      labels = next
      releaseLabels = releaseNext
    }
    releaseWalk()
    // the final labels stay pinned — they ARE the result the caller
    // consumes; the ContextCleaner reclaims them when the plan is
    // dropped, or a loop caller releases them explicitly through the
    // returned handle once its derived writes land.
    (labels, iters, releaseLabels)
  }

  /** Line-level boilerplate dedup (the CCNet/RefinedWeb pass): split
    * each doc into fixed 3-token chunks (the "lines" of this one-line
    * corpus), hash each chunk, and flag chunks that recur across ≥5
    * distinct documents as boilerplate; emit per-doc retained-content
    * metrics. Scale shape: one shuffle keyed on chunk hash for the
    * distinct-doc count (map-side partial via the (h, doc) distinct),
    * one join back on the hash, one groupBy doc — no driver state, no
    * all-pairs work; the hash→count relation is chunk-cardinality and
    * stays fully distributed. */
  val dedupLines = QueryDef(
    "dedup_lines",
    Some(s"""WITH w AS (SELECT doc_id, list_filter(string_split(text,' '), x -> length(x) > 0) AS ws FROM documents),
           |c AS (SELECT doc_id, unnest(generate_series(0, CAST(ceil(len(ws)/3.0)-1 AS BIGINT))) AS cid, ws
           |      FROM w WHERE len(ws) > 0),
           |h AS (SELECT doc_id, cid, md5(array_to_string(ws[cid*3+1:cid*3+3],' ')) AS h FROM c),
           |cnt AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM h GROUP BY h)
           |SELECT h.doc_id, COUNT(*) AS n_chunks,
           |  CAST(SUM(CASE WHEN cnt.nd >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS boiler_chunks,
           |  ${graft.QueryDef.roundedRatioSql("SUM(CASE WHEN cnt.nd >= 5 THEN 1 ELSE 0 END)", "COUNT(*)", 4)} AS boiler_frac
           |FROM h JOIN cnt ON h.h = cnt.h
           |GROUP BY h.doc_id
           |ORDER BY h.doc_id""".stripMargin),
    (spark, dir) => {
      val chunks = Tables.table(spark, dir, "documents")
        .select(col("doc_id"),
          filter(split(col("text"), " "), x => length(x) > 0).as("ws"))
        .filter(size(col("ws")) > 0)
        .select(col("doc_id"),
          explode(expr("sequence(0, CAST(ceil(size(ws)/3.0)-1 AS BIGINT))")).as("cid"),
          col("ws"))
        .select(col("doc_id"), col("cid"),
          md5(concat_ws(" ", expr("slice(ws, CAST(cid*3+1 AS INT), 3)"))).as("h"))
        // the chunk relation feeds both the count aggregate and the
        // join probe side — materialize once (same convention as the
        // jaccard/IVF builders) so the tokenize+explode+md5 pass over
        // the corpus doesn't run twice
        .materialized
      val cnt = chunks.groupBy("h")
        .agg(countDistinct(col("doc_id")).as("nd"))
      chunks.join(cnt, "h")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_chunks"),
          sum(when(col("nd") >= 5, 1L).otherwise(0L)).as("boiler_chunks"),
          graft.QueryDef.roundedRatio(
            sum(when(col("nd") >= 5, 1L).otherwise(0L)), count(lit(1)), 4).as("boiler_frac"))
        .orderBy("doc_id")
    })

  /** Overlapping k-token window relation `(doc_id, i, h)` — one row
    * per window start (1-based), `h` = md5 of the space-joined k-token
    * span. Generated map-side (tokenize + transform, no shuffle).
    * SHARED by the batch [[dedupSubstring]] pass and the streaming
    * [[graft.streaming.StreamOps.substringRepeats]] form: the two legs
    * must agree byte-for-byte on which spans exist and how they hash,
    * or the streaming→batch-compaction handoff silently changes the
    * repeat set on whitespace-variant docs (the corpusIngest
    * fingerprint convention). */
  private[graft] def substringWindows(docs: DataFrame, k: Int = 8): DataFrame =
    docs
      .select(col("doc_id"),
        filter(split(col("text"), " "), x => length(x) > 0).as("ws"))
      .select(col("doc_id"), col("ws"), size(col("ws")).as("n"))
      .filter(col("n") >= k)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, n - ${k - 1}), i -> struct(i AS i, md5(concat_ws(' ', slice(ws, i, $k))) AS h))")).as("w"))
      .select(col("doc_id"), col("w.i").as("i"), col("w.h").as("h"))

  /** The `rwin` relation of the ExactSubstr pass: distinct
    * `(doc_id, i)` window starts whose hash occurs in ≥2 DISTINCT
    * documents. One shuffle on the window hash (map-side-combined
    * count-distinct), one hash join back — no pairwise work. The
    * window relation is materialized once (it feeds both the count
    * aggregate and the join probe side). Shared by the batch QueryDef
    * and the streaming parity gate in StreamingSpec. */
  private[graft] def substringRepWindows(docs: DataFrame, k: Int = 8): DataFrame = {
    val wins = substringWindows(docs, k).materialized
    val rep = wins.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select("h")
    wins.join(rep, "h").select("doc_id", "i").distinct()
  }

  /** Cross-document repeated-substring detection (the ExactSubstr
    * shape of Lee et al. 2021, "Deduplicating Training Data Makes
    * Language Models Better", windowed-hash form): any 8-token span
    * occurring verbatim in TWO OR MORE distinct documents is a
    * repeated substring; per doc this reports the repeated-window
    * count and the number of tokens covered by at least one repeated
    * span — the inputs a training pipeline uses to CUT those spans
    * (suffix-array ExactSubstr finds arbitrary-length repeats; the
    * windowed form finds every repeat of length ≥ k with k-bounded
    * state, the distributable trade). Scale shape: overlapping
    * windows are generated map-side (one row per token, ~text-sized),
    * ONE shuffle on the window hash finds cross-doc repeats
    * (map-side-combined count-distinct over doc ids), one hash join
    * back tags each doc's repeated windows, and coverage is a
    * window→token explode bounded by 8× the repeated-window count —
    * no pairwise work anywhere, state O(distinct windows). */
  val dedupSubstring = QueryDef(
    "dedup_substring",
    Some(s"""WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 0) AS ws FROM documents),
            |t AS (SELECT doc_id, ws, len(ws) AS n FROM w WHERE len(ws) > 0),
            |win AS (SELECT doc_id, i, md5(array_to_string(ws[i:i+7], ' ')) AS h
            |        FROM t, unnest(generate_series(1, n - 7)) AS g(i)
            |        WHERE n >= 8),
            |rep AS (SELECT h FROM win GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
            |rwin AS (SELECT DISTINCT win.doc_id, win.i FROM win JOIN rep ON win.h = rep.h),
            |rcnt AS (SELECT doc_id, COUNT(*) AS nr FROM rwin GROUP BY doc_id),
            |cov AS (SELECT doc_id, COUNT(*) AS nc FROM (
            |          SELECT DISTINCT r.doc_id, r.i + o AS tok
            |          FROM rwin r, unnest(generate_series(0, 7)) AS q(o))
            |        GROUP BY doc_id)
            |SELECT t.doc_id, CAST(t.n AS BIGINT) AS n_tokens,
            |  CAST(greatest(t.n - 7, 0) AS BIGINT) AS n_windows,
            |  CAST(COALESCE(rcnt.nr, 0) AS BIGINT) AS n_rep_windows,
            |  CAST(COALESCE(cov.nc, 0) AS BIGINT) AS covered_tokens,
            |  ${graft.QueryDef.roundedRatioSql("COALESCE(cov.nc, 0)", "t.n", 4)} AS rep_frac
            |FROM t LEFT JOIN rcnt ON rcnt.doc_id = t.doc_id
            |       LEFT JOIN cov ON cov.doc_id = t.doc_id
            |ORDER BY t.doc_id""".stripMargin),
    (spark, dir) => {
      val docs = Tables.table(spark, dir, "documents")
      val toks = docs
        .select(col("doc_id"),
          filter(split(col("text"), " "), x => length(x) > 0).as("ws"))
        .select(col("doc_id"), col("ws"), size(col("ws")).as("n"))
        .filter(col("n") > 0)
      // rwin used twice (repeat count + coverage explode): materialize
      // it; the window relation is materialized inside the helper
      val rwin = substringRepWindows(docs).materialized
      val rcnt = rwin.groupBy("doc_id").agg(count(lit(1)).as("nr"))
      val cov = rwin
        .select(col("doc_id"), explode(expr("sequence(i, i + 7)")).as("tok"))
        .distinct()
        .groupBy("doc_id").agg(count(lit(1)).as("nc"))
      toks.join(rcnt, Seq("doc_id"), "left").join(cov, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n").cast("long").as("n_tokens"),
          greatest(col("n") - 7, lit(0)).cast("long").as("n_windows"),
          coalesce(col("nr"), lit(0L)).cast("long").as("n_rep_windows"),
          coalesce(col("nc"), lit(0L)).cast("long").as("covered_tokens"),
          graft.QueryDef.roundedRatio(
            coalesce(col("nc"), lit(0L)), col("n"), 4).as("rep_frac"))
        .orderBy("doc_id")
    })

  /** Semantic near-dup clusters (the SemDeDup shape): connected
    * components over the LSH-bucketed, cosine-verified embedding pair
    * graph — each vector maps to its semantic family's minimum vec_id
    * (the kept representative; the rest are semantic duplicates a
    * training pipeline drops or down-weights). Composition of the two
    * scale paths proven separately: candidate pairs never leave their
    * sign-bit bucket (no O(n²)), and the component labels are O(V)
    * min-label propagation. Oracle: the same verified pair set walked
    * to the same fixpoint by a recursive CTE. */
  val dedupSemanticClusters = QueryDef(
    "dedup_semantic_clusters",
    Some(s"""WITH RECURSIVE e AS (SELECT vec_id, embedding, ${Similarity.bucketExpr("embedding")} AS bucket FROM embeddings),
            |p AS (
            |  SELECT va, vb FROM (
            |    SELECT a.vec_id AS va, b.vec_id AS vb,
            |      ${Similarity.dd("a.embedding", "b.embedding")}
            |      / (sqrt(${Similarity.dd("a.embedding", "a.embedding")})
            |       * sqrt(${Similarity.dd("b.embedding", "b.embedding")})) AS cos
            |    FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
            |  WHERE cos > 0.30),
            |walk AS (SELECT va AS a, vb AS b FROM p UNION SELECT vb, va FROM p),
            |reach AS (
            |  SELECT a AS src, a AS dst FROM (SELECT DISTINCT a FROM walk)
            |  UNION
            |  SELECT r.src, w.b FROM reach r JOIN walk w ON r.dst = w.a)
            |SELECT src AS vec_id, CAST(min(dst) AS BIGINT) AS cluster_rep
            |FROM reach
            |GROUP BY src
            |ORDER BY vec_id""".stripMargin),
    (spark, dir) => {
      val pairs = Similarity.bucketedCosinePairs(
          Tables.table(spark, dir, "embeddings"), ordered = true,
          minCos = Some(0.30))
        .select(col("va").as("doc_a"), col("vb").as("doc_b"))
      connectedComponents(pairs)
        .select(col("node").as("vec_id"), col("label").cast("long").as("cluster_rep"))
        .orderBy("vec_id")
    })

  /** Edit-distance verification over the LSH candidates — the
    * character-level fuzzy-dedup verify (catches small in-place edits
    * that token-set Jaccard under-weights). Levenshtein runs per
    * CANDIDATE pair only (never all pairs); the near-dup test is
    * multiplied out on integers (dist·5 ≤ max length ⟺ within 20%
    * edits), so both engines flag identically. At 100 TB the per-pair
    * O(n·m) cost is bounded by document length — for book-length docs
    * the same verify runs on aligned chunks (text_chunk) instead of
    * whole texts; the pipeline shape is unchanged. */
  val dedupEditdist = QueryDef(
    "dedup_editdist",
    Some(s"""$lshCtes,
            |t AS (SELECT doc_id, text FROM documents),
            |v AS (SELECT c.doc_a, c.doc_b,
            |        levenshtein(ta.text, tb.text) AS dist,
            |        greatest(length(ta.text), length(tb.text)) AS len_max
            |      FROM cand c
            |      JOIN t ta ON ta.doc_id = c.doc_a
            |      JOIN t tb ON tb.doc_id = c.doc_b)
            |SELECT doc_a, doc_b, CAST(dist AS BIGINT) AS edit_dist,
            |  CAST(len_max AS BIGINT) AS len_max,
            |  CAST(CASE WHEN dist * 5 <= len_max THEN 1 ELSE 0 END AS BIGINT) AS is_dup
            |FROM v ORDER BY doc_a, doc_b""".stripMargin),
    (spark, dir) => {
      val cand = bandPairs(shingles(spark, dir), spark)
      val t = Tables.table(spark, dir, "documents").select(col("doc_id"), col("text"))
      cand
        .join(t.as("ta"), col("ta.doc_id") === col("doc_a"))
        .join(t.as("tb"), col("tb.doc_id") === col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          levenshtein(col("ta.text"), col("tb.text")).cast("long").as("edit_dist"),
          greatest(length(col("ta.text")), length(col("tb.text"))).cast("long").as("len_max"))
        .withColumn("is_dup",
          when(col("edit_dist") * 5 <= col("len_max"), 1L).otherwise(0L))
        .orderBy("doc_a", "doc_b")
    })

  val defs: Seq[QueryDef] = Seq(
    dedupExact, dedupFingerprint, dedupMinhashLsh, dedupJaccardNgram,
    dedupSimhash, dedupEmbeddingCosine, dedupEmbeddingLsh, dedupClusters,
    dedupLines, dedupSemanticClusters, dedupEditdist, dedupAgainstIndex,
    dedupAgainstIndexServeOnly, dedupAgainstIndexAfterDelete,
    dedupAgainstIndexCdcDelete, dedupSubstring)
}
