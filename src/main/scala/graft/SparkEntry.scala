package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.algo._
import graft.extract.{Dictionary, LinkExtract}
import graft.gen.{SyntheticGraph, SyntheticPages}
import graft.model._
import graft.sim.Knn
import graft.text.{Dedup, TextAnalysis}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, with an ANSI-SQL DuckDB oracle for every expressible one:
  * ALL SIX iterative vertex programs included (CC + BFS via recursive
  * CTEs; LP, PageRank and SSSP via fixed unrolls of materialized CTE
  * rounds — past convergence every extra round is a no-op, so an unroll
  * at the engine's own iteration cap is termination-independent), the
  * synthetic generator and the pages→edges front-end via a splitmix64
  * transcription in HUGEINT arithmetic, and the cosine/text operators via
  * list_cosine_similarity / regexp reconstruction. Only xxhash-salted
  * candidate generation (MinHash/SimHash/LSH buckets) and the stubbed
  * media decode remain rows-only, verified by construction tests in
  * `sbt -batch test` alongside the golden fixtures + serial oracle +
  * GraphX cross-checks.
  *
  * The graph under test derives from `lineitem` by a pure modulo projection
  * (Tables.edgesSql) so the oracle sees the identical multigraph.
  */
object SparkEntry {
  import Tables._

  /** Flagship: the full front-end + analytics pipeline on a synthesized
    * 1000-page Common-Crawl-style table — pages → href extraction →
    * dictionary encode → seeded label propagation → per-url labels.
    */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val pages = SyntheticPages.pages(spark, 1000L, 5)
    val urlEdges = LinkExtract.urlEdges(pages)
    val dict = Dictionary.buildFromEdges(urlEdges)
    val edges = Dictionary.encodeEdges(urlEdges, dict)
    val seeds = dict.filter($"id" % 10 === 0)
      .select($"id".as("node"), (($"id" % 4) * 100).as("label")).as[Seed]
    val res = LabelPropagation.run(edges, seeds)
    Dictionary.decode(res.labels.toDF(), "id", dict)
      .select($"url", $"label").orderBy($"url")
  }

  private def docs(s: SparkSession, dir: String) = table(s, dir, "documents")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- scans / projections / filters (SURVEY §2.1-2.2) ----
    "s2_edge_scan" -> ((s, dir) => edges(s, dir)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))),
    "p2_filter_project" -> ((s, dir) => table(s, dir, "lineitem")
      .filter(col("l_quantity") < 10)
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("pkey"))),
    "p3_range_filter" -> ((s, dir) => edges(s, dir).toDF()
      .filter(col("src") < 1000 && col("dst") < 1000)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))),
    "s5_synth_edges" -> ((s, _) => SyntheticGraph.randomEdges(s, 1000L, 4)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))),

    // ---- aggregations (SURVEY §2.4) ----
    "a10_vertex_set" -> ((s, dir) => {
      val e = edges(s, dir)
      e.select(col("src").as("id")).union(e.select(col("dst").as("id"))).distinct()
    }),
    "a5_degree_hist" -> ((s, dir) => edges(s, dir)
      .groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))),
    "a2_seed_dedup" -> ((s, dir) => table(s, dir, "orders")
      .groupBy(col("o_custkey").as("node"))
      .agg(min(col("o_orderkey")).as("label"))),
    // packed-long argmax (max cnt, ties to smaller dst) — the same
    // hash-aggregable shape as LabelPropagation's vote: max(struct(...))
    // has an immutable struct buffer and silently plans a SortAggregate.
    // Safe unconditionally here: dst < Tables.VertexMod fits u32 and
    // cnt ≤ |lineitem| fits 31 bits at every test SF.
    "a1_majority_vote" -> ((s, dir) => edges(s, dir)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("src"))
      .agg(max(shiftleft(col("cnt"), 32) +
        (lit((1L << 32) - 1) - col("dst"))).as("m"))
      .select(col("src"),
        (lit((1L << 32) - 1) - col("m").bitwiseAND(lit((1L << 32) - 1)))
          .as("vote"))),
    "a6_label_stats" -> ((s, dir) => seeds(s, dir)
      .agg(count(lit(1)).as("labeled_nodes"),
        countDistinct(col("label")).as("distinct_labels"))),
    "a5_top20_labels" -> ((s, dir) => seeds(s, dir)
      .groupBy(col("label")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("label")).limit(20)),

    // ---- joins (SURVEY §2.3) ----
    "j1_dim_join" -> ((s, dir) => table(s, dir, "customer")
      .join(broadcast(table(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(table(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name")).agg(count(lit(1)).as("n_cust"))),
    "j2_gather_join" -> ((s, dir) => {
      val sd = seeds(s, dir)
      edges(s, dir).join(sd, col("dst") === col("node"))
        .groupBy(col("src"), col("label")).agg(count(lit(1)).as("cnt"))
    }),
    "j3_apply_outer" -> ((s, dir) => {
      val e = edges(s, dir)
      val v = e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct()
      v.join(seeds(s, dir), col("id") === col("node"), "left_outer")
        .select(col("id"), coalesce(col("label"), lit(-1L)).as("label"))
    }),

    // ---- set ops / sorts (SURVEY §2.5) ----
    "q_undirected_canon" -> ((s, dir) => edges(s, dir).toDF()
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b")).distinct()),

    // ---- iterative vertex programs (SURVEY §2.7) ----
    "v1_lp" -> ((s, dir) => {
      LabelPropagation.run(edges(s, dir), seeds(s, dir))
        .labels.toDF().orderBy(col("id"))
    }),
    "v1_lp_unsupervised" -> ((s, dir) => {
      import s.implicits._
      LabelPropagation.run(edges(s, dir), s.emptyDataset[Seed])
        .labels.toDF().orderBy(col("id"))
    }),
    "v2_pagerank" -> ((s, dir) => PageRank.run(edges(s, dir))
      .ranks.toDF().select(col("id"), round(col("rank"), 6).as("rank"))
      .orderBy(col("id"))),
    "v3_cc" -> ((s, dir) => ConnectedComponents.run(edges(s, dir))
      .components.toDF().orderBy(col("id"))),
    "v4_bfs" -> ((s, dir) => {
      val e = edges(s, dir)
      val src = e.agg(min(col("src"))).head().getLong(0)
      Paths.bfs(e, src).dists.toDF()
        .select(col("id"), col("dist").cast("long").as("level"))
        .orderBy(col("id"))
    }),
    "v5_sssp" -> ((s, dir) => {
      import s.implicits._
      val we = table(s, dir, "lineitem")
        .select((col("l_orderkey") % VertexMod).as("src"),
          (col("l_partkey") % VertexMod).as("dst"),
          col("l_quantity").as("weight")).as[WEdge]
      val src = we.agg(min(col("src"))).head().getLong(0)
      Paths.sssp(we, src).dists.toDF()
        .select(col("id"), round(col("dist"), 6).as("dist"))
        .orderBy(col("id"))
    }),
    "v6_triangles" -> ((s, dir) => TriangleCount.run(edges(s, dir))
      .counts.toDF().orderBy(col("id"))),

    // ---- dedup / text / similarity pipeline ops ----
    "q_exact_dedup" -> ((s, dir) => Dedup.exactGroups(docs(s, dir))),
    "q_window_dedup" -> ((s, dir) => Dedup.exactDedup(docs(s, dir))
      .select(col("doc_id")).orderBy(col("doc_id"))),
    "q_doc_stats" -> ((s, dir) => docs(s, dir).select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars_calc"),
      TextAnalysis.wsTokenCountCol(col("text")).cast("long").as("n_ws_tokens"))),
    "q_minhash_neardups" -> ((s, dir) =>
      Dedup.minhashNearDups(docs(s, dir), threshold = 0.7)
        .orderBy(col("doc_a"), col("doc_b"))),
    "q_simhash_sigs" -> ((s, dir) => Dedup.simhashSignatures(docs(s, dir))
      .orderBy(col("doc_id"))),
    "q_simhash_neardups" -> ((s, dir) => Dedup.simhashNearDups(docs(s, dir), 3)
      .orderBy(col("doc_a"), col("doc_b"))),
    // fingerprint (chained xxhash64) is the one column no SQL engine can
    // recompute — dropped here so the rest of the enrichment is
    // hash-verified against DuckDB; the fingerprint itself is covered by
    // PipelineOpsSpec determinism/order-sensitivity tests
    "q_text_analyze" -> ((s, dir) => TextAnalysis.analyze(docs(s, dir))
      .drop("fingerprint").orderBy(col("doc_id"))),
    "q_embedding_neardups" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Dedup.embeddingNearDups(emb, threshold = 0.40)
        .orderBy(col("id_a"), col("id_b"))
    }),
    "q_embedding_neardups_lsh" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val dim = emb.select(size(col("vec"))).head().getInt(0)
      Dedup.embeddingNearDupsLsh(emb, dim, threshold = 0.40)
        .orderBy(col("id_a"), col("id_b"))
    }),
    "q_knn_brute" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Knn.bruteTopK(emb, emb.filter(col("id") < 10), k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "q_knn_lsh" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val dim = emb.select(size(col("vec"))).head().getInt(0)
      Knn.lshTopK(emb, emb.filter(col("id") < 10), dim, k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "q_media_pipeline" -> ((s, _) => {
      import s.implicits._
      val media = graft.mm.Multimodal.syntheticMedia(s, 200L)
      // exploded to one scalar per (media_id, dim): the driver's compare
      // harness sorts/hashes cell values, which an array<float> cell breaks
      graft.mm.Multimodal.extractFeatures(media).toDF()
        .select(col("media_id"), posexplode(col("feature")))
        .select(col("media_id"), col("pos").as("dim"),
          round(col("col").cast("double"), 6).as("value"))
        .orderBy(col("media_id"), col("dim"))
    }),

    // ---- pages front-end on synthesized input ----
    "q_extract_edges" -> ((s, _) => {
      val pages = SyntheticPages.pages(s, 500L, 4)
      val ue = LinkExtract.urlEdges(pages)
      val dict = Dictionary.buildFromEdges(ue)
      Dictionary.encodeEdges(ue, dict).groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).as("w"))
    }),
    "q_extract_text" -> ((s, _) =>
      LinkExtract.extractText(SyntheticPages.pages(s, 500L, 4))
        .orderBy(col("url")))
  )

  // ---- splitmix64-in-SQL helpers (HUGEINT arithmetic mod 2^64; each
  // 64x64-bit wrapping multiply split into 32-bit halves because HUGEINT
  // is signed INT128 and the naive product overflows) ----
  private val two64 = "18446744073709551616"
  private def mulmod(col: String, c: BigInt): String = {
    val bh = c >> 32
    val bl = c & 0xffffffffL
    s"((($col) * $bl) % $two64 + (((($col) * $bh) % 4294967296) * 4294967296)) % $two64"
  }
  private val c1 = BigInt("BF58476D1CE4E5B9", 16)
  private val c2 = BigInt("94D049BB133111EB", 16)

  /** The full splitmix64 finalizer as one inline SQL expression over an
    * unsigned-HUGEINT input expression.
    */
  private def mixSql(x: String): String = {
    val z0 = s"((($x) + 11400714819323198485) % $two64)"
    val y1 = s"xor($z0, ($z0) >> 30)"
    val z1 = s"(${mulmod(y1, c1)})"
    val y2 = s"xor($z1, ($z1) >> 27)"
    val z2 = s"(${mulmod(y2, c2)})"
    s"xor($z2, ($z2) >> 31)"
  }

  /** Unsigned-HUGEINT → signed-64 reinterpretation. */
  private def signedSql(h: String): String =
    s"(CASE WHEN ($h) >= 9223372036854775808 THEN ($h) - $two64 ELSE ($h) END)"

  /** DuckDB SQL reproducing `SyntheticGraph.randomEdges(n, density)` (and
    * the identical topology embedded by `SyntheticPages`): splitmix64 in
    * HUGEINT arithmetic mod 2^64, then the reference target rule, grouped
    * to (src, dst, w).
    */
  private def synthEdgesOracleSql(n: Long, density: Int, seed: Long = 42L): String = {
    s"""WITH s AS (
          SELECT i // $density AS src,
                 (CAST($seed AS HUGEINT) * 4294967296 + (i // $density) * $density + (i % $density)) % $two64 AS x
          FROM generate_series(0, ${n * density - 1}) t(i)
        ), m1 AS (SELECT src, (x + 11400714819323198485) % $two64 AS z0 FROM s),
        m1x AS (SELECT src, xor(z0, z0 >> 30) AS y1 FROM m1),
        m2 AS (SELECT src, ${mulmod("y1", c1)} AS z1 FROM m1x),
        m2x AS (SELECT src, xor(z1, z1 >> 27) AS y2 FROM m2),
        m3 AS (SELECT src, ${mulmod("y2", c2)} AS z2 FROM m2x),
        h AS (SELECT src, xor(z2, z2 >> 31) AS hu FROM m3),
        sgn AS (SELECT src, CASE WHEN hu >= 9223372036854775808 THEN hu - $two64 ELSE hu END AS hs FROM h),
        raw AS (SELECT src, ((hs % ${n - 1}) + ${n - 1}) % ${n - 1} AS r FROM sgn),
        e AS (SELECT src, CASE WHEN r >= src THEN r + 1 ELSE r END AS dst FROM raw)
        SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst, count(*) AS w
        FROM e GROUP BY src, dst"""
  }

  /** DuckDB SQL for GraphX-semantics dynamic PageRank, as `iters` unrolled
    * materialized CTE steps (DuckDB 1.0's recursive CTEs cannot aggregate,
    * but a fixed unroll can — and once the frontier empties every further
    * step is a no-op, so a deep-enough unroll is termination-independent;
    * without MATERIALIZED the double self-reference per step inlines
    * exponentially). Arithmetic parity with the engine up to summation
    * order: a pair of multiplicity w contributes delta·(w·(1/deg)) here and
    * w edge rows of delta·(1/deg) each in the engine (the same bits at w =
    * 1), rank += 0.85·msg, delta-gated frontier, final normalization to
    * n/Σrank, rounded to 6dp — measured ≥1e-9 from every rounding boundary
    * on the fixed testdata vs ~1e-13 cross-engine FP divergence.
    */
  private def pageRankOracleSql(iters: Int = 120, tol: Double = 1e-6): String = {
    val pre =
      s"""WITH e AS MATERIALIZED ($edgesSql),
          packed AS MATERIALIZED (SELECT src, dst, count(*) AS w FROM e GROUP BY src, dst),
          deg AS (SELECT src, sum(w) AS d FROM packed GROUP BY src),
          contrib AS MATERIALIZED (
            SELECT p.src, p.dst, CAST(p.w AS DOUBLE) * (1.0/CAST(d.d AS DOUBLE)) AS cw
            FROM packed p JOIN deg d USING (src)),
          v AS (SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst AS id FROM e),
          s0 AS MATERIALIZED (SELECT id, 0.15 AS rank, 0.15 AS delta, TRUE AS active FROM v)"""
    val steps = (1 to iters).map { k =>
      s"""s$k AS MATERIALIZED (
            SELECT v.id,
              CASE WHEN m.msg IS NOT NULL THEN v.rank + 0.85*m.msg ELSE v.rank END AS rank,
              CASE WHEN m.msg IS NOT NULL THEN 0.85*m.msg ELSE v.delta END AS delta,
              (m.msg IS NOT NULL) AS active
            FROM s${k - 1} v LEFT JOIN (
              SELECT c.dst AS id, sum(f.delta * c.cw) AS msg
              FROM s${k - 1} f JOIN contrib c ON c.src = f.id
              WHERE f.active AND f.delta > $tol
              GROUP BY c.dst) m USING (id))"""
    }
    val fin =
      s""",tot AS (SELECT sum(rank) AS s, count(*) AS n FROM s$iters)
          SELECT id, round(rank * (CAST(n AS DOUBLE)/s), 6) AS rank
          FROM s$iters, tot ORDER BY id"""
    pre + "," + steps.mkString(",") + fin
  }

  /** DuckDB SQL for label propagation as `iters` unrolled majority-vote
    * rounds (pure integer arithmetic — exact, no FP concerns). The unroll
    * equals the engine's maxIter so a capped, unconverged run still
    * matches; a converged run is unchanged by extra rounds.
    */
  private def lpOracleSql(iters: Int, supervised: Boolean): String = {
    val init =
      if (supervised)
        s"""SELECT v.id, s.label, s.label IS NOT NULL AS seeded FROM ($verticesSql) v
            LEFT JOIN ($seedsSql) s ON v.id = s.node"""
      else s"SELECT id, id AS label, FALSE AS seeded FROM ($verticesSql)"
    val pre =
      s"""WITH packed AS MATERIALIZED (
            SELECT src, dst, count(*) AS w FROM ($edgesSql) GROUP BY src, dst),
          s0 AS MATERIALIZED ($init)"""
    val steps = (1 to iters).map { k =>
      s"""s$k AS MATERIALIZED (
            SELECT v.id,
              CASE WHEN v.seeded THEN v.label
                   WHEN m.vote IS NOT NULL THEN m.vote
                   ELSE v.label END AS label,
              v.seeded
            FROM s${k - 1} v LEFT JOIN (
              SELECT src AS id, label AS vote FROM (
                SELECT src, label, cnt,
                       row_number() OVER (PARTITION BY src ORDER BY cnt DESC, label ASC) AS rn
                FROM (SELECT e.src, f.label, sum(e.w) AS cnt
                      FROM s${k - 1} f JOIN packed e ON e.dst = f.id
                      WHERE f.label IS NOT NULL GROUP BY e.src, f.label))
              WHERE rn = 1) m USING (id))"""
    }
    pre + "," + steps.mkString(",") +
      s" SELECT id, label FROM s$iters WHERE label IS NOT NULL ORDER BY id"
  }

  /** DuckDB SQL for SSSP as `iters` unrolled synchronous relaxation rounds.
    * Distances are identical bit-for-bit across engines: each candidate is
    * the same left-to-right path sum, and min over equal candidate sets is
    * order-free — so round(·, 6) agrees exactly. NULL = +∞; absent-row
    * output contract preserved by the final filter.
    */
  private def ssspOracleSql(iters: Int): String = {
    val wedges =
      s"SELECT l_orderkey % $VertexMod AS src, l_partkey % $VertexMod AS dst, l_quantity AS weight FROM lineitem"
    val pre =
      s"""WITH packed AS MATERIALIZED (
            SELECT src, dst, min(weight) AS weight FROM ($wedges) GROUP BY src, dst),
          v AS (SELECT DISTINCT src AS id FROM ($wedges) UNION SELECT DISTINCT dst AS id FROM ($wedges)),
          s0 AS MATERIALIZED (
            SELECT id, CASE WHEN id = (SELECT min(src) FROM ($wedges)) THEN 0.0 END AS dist FROM v)"""
    val steps = (1 to iters).map { k =>
      s"""s$k AS MATERIALIZED (
            SELECT v.id,
              CASE WHEN m.d IS NULL THEN v.dist
                   WHEN v.dist IS NULL OR m.d < v.dist THEN m.d
                   ELSE v.dist END AS dist
            FROM s${k - 1} v LEFT JOIN (
              SELECT e.dst AS id, min(f.dist + e.weight) AS d
              FROM s${k - 1} f JOIN packed e ON e.src = f.id
              WHERE f.dist IS NOT NULL GROUP BY e.dst) m USING (id))"""
    }
    pre + "," + steps.mkString(",") +
      s" SELECT id, round(dist, 6) AS dist FROM s$iters WHERE dist IS NOT NULL ORDER BY id"
  }

  /** DuckDB SQL reproducing the media pipeline's deterministic stub
    * features end-to-end: per-media payload length and bytes from
    * splitmix64, the byte-chain fold as a recursive CTE (one step per
    * byte), and the 8 per-dimension features with exact float→double
    * arithmetic parity. Round 1's only CORRECTNESS error row is thereby
    * not just hashable but hash-verified.
    */
  private def mediaOracleSql(n: Long): String = {
    s"""WITH RECURSIVE meta AS MATERIALIZED (
          SELECT i, 64 + CAST(${mixSql("CAST(i AS HUGEINT)")} % 256 AS BIGINT) AS len
          FROM generate_series(0, ${n - 1}) t(i)
        ),
        bytes AS MATERIALIZED (
          SELECT m.i, j.j, ${mixSql("CAST(m.i AS HUGEINT) * 131071 + j.j")} % 256 AS b
          FROM meta m JOIN generate_series(0, 400) j(j) ON j.j < m.len
        ),
        fold(i, j, acc) AS (
          SELECT i, 0, CAST(0 AS HUGEINT) FROM meta
          UNION ALL
          SELECT f.i, f.j + 1, ${mixSql("xor(f.acc, b.b)")}
          FROM fold f JOIN bytes b ON b.i = f.i AND b.j = f.j
        ),
        h0 AS (
          SELECT f.i, f.acc FROM fold f JOIN meta m ON m.i = f.i WHERE f.j = m.len
        ),
        feat AS (
          SELECT h.i AS media_id, d.d AS dim,
            round(CAST(CAST(CAST(${signedSql(mixSql(s"(h.acc + d.d) % $two64"))} % 1000 AS BIGINT) AS REAL)
                  / CAST(1000 AS REAL) AS DOUBLE), 6) AS value
          FROM h0 h JOIN generate_series(0, 7) d(d) ON TRUE
        )
        SELECT media_id, CAST(dim AS INTEGER) AS dim, value
        FROM feat ORDER BY media_id, dim"""
  }

  def oracleSql: Map[String, String] = Map(
    "q_media_pipeline" -> mediaOracleSql(200L),
    // the five previously rows-only LSH queries: xxhash64 (and the
    // splitmix64 hyperplanes) transcribed into HUGEINT SQL — see
    // graft.oracle.HashOracleSql
    "q_simhash_sigs" -> graft.oracle.HashOracleSql.simhashSigsSql,
    "q_simhash_neardups" -> graft.oracle.HashOracleSql.simhashNearDupsSql(3),
    "q_minhash_neardups" -> graft.oracle.HashOracleSql.minhashNearDupsSql(
      w = 3, bands = 16, rows = 4, threshold = 0.7),
    "q_embedding_neardups_lsh" ->
      graft.oracle.HashOracleSql.embeddingNearDupsLshSql(0.40, 6, 12),
    "q_knn_lsh" -> graft.oracle.HashOracleSql.knnLshSql(5, 8, 8),
    "v1_lp" -> lpOracleSql(iters = graft.model.DefaultMaxIter, supervised = true),
    "v1_lp_unsupervised" -> lpOracleSql(iters = graft.model.DefaultMaxIter, supervised = false),
    "v5_sssp" -> ssspOracleSql(iters = 40),
    "v2_pagerank" -> pageRankOracleSql(),
    "s2_edge_scan" ->
      s"SELECT src, dst, count(*) AS w FROM ($edgesSql) GROUP BY src, dst",
    "p2_filter_project" ->
      "SELECT l_orderkey AS okey, l_partkey AS pkey FROM lineitem WHERE l_quantity < 10",
    "p3_range_filter" ->
      s"SELECT src, dst, count(*) AS w FROM ($edgesSql) WHERE src < 1000 AND dst < 1000 GROUP BY src, dst",
    // Independent SQL transcription of the deterministic generator: full
    // splitmix64 over HUGEINT arithmetic mod 2^64 (64x64-bit wrapping
    // multiply via 32-bit split — INT128 would overflow), signed
    // reinterpretation, floorMod to [0, n-2], self-loop bump. Verifies the
    // synthetic topology hash-exactly against a second implementation.
    "s5_synth_edges" -> synthEdgesOracleSql(n = 1000, density = 4),
    // The flagship front-end (pages → href extraction → url→id dictionary
    // → integer edges) must reproduce the generator topology EXACTLY —
    // the pages' html embeds it, and zero-padded urls make dictionary
    // ranks coincide with node ids. The same independent splitmix64 SQL
    // is therefore the end-to-end oracle for the whole extract+encode
    // pipeline: any regression in href parsing, url resolution or rank
    // assignment breaks the hash. (Quote, entity, case, word-boundary,
    // block and malformed-UTF-8 edge cases the synthetic pages don't
    // exercise are golden-pinned in src/test/scala/graft/LinkExtractSpec,
    // which also checks the native scans against the former regex passes.)
    "q_extract_edges" -> synthEdgesOracleSql(n = 500, density = 4),
    // byte-identical text extraction (north rule): the extracted text of a
    // synthesized page is a pure function of its index — title token, body
    // sentence, anchor labels, whitespace-collapsed. An independent SQL
    // reconstruction verifies every byte of all 500 rows.
    "q_extract_text" ->
      """SELECT printf('https://crawl.example/p%012d', i) AS url,
           printf('p%d Page %d in %s. The quick crawl indexed node %d. l0 l1 l2 l3',
                  i, i, CASE WHEN i % 2 = 0 THEN 'en' ELSE 'es' END, i) AS text
         FROM generate_series(0, 499) t(i) ORDER BY url""",
    "a10_vertex_set" -> verticesSql,
    "a5_degree_hist" ->
      s"SELECT deg, count(*) AS n_nodes FROM (SELECT src, count(*) AS deg FROM ($edgesSql) GROUP BY src) GROUP BY deg",
    "a2_seed_dedup" ->
      "SELECT o_custkey AS node, min(o_orderkey) AS label FROM orders GROUP BY o_custkey",
    "a1_majority_vote" ->
      s"""WITH c AS (SELECT src, dst, count(*) AS cnt FROM ($edgesSql) GROUP BY src, dst),
          r AS (SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY cnt DESC, dst ASC) AS rk FROM c)
          SELECT src, dst AS vote FROM r WHERE rk = 1""",
    "a6_label_stats" ->
      s"SELECT count(*) AS labeled_nodes, count(DISTINCT label) AS distinct_labels FROM ($seedsSql)",
    "a5_top20_labels" ->
      s"SELECT label, count(*) AS cnt FROM ($seedsSql) GROUP BY label ORDER BY label LIMIT 20",
    "j1_dim_join" ->
      """SELECT r_name, count(*) AS n_cust FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey GROUP BY r_name""",
    "j2_gather_join" ->
      s"""SELECT e.src, s.label, count(*) AS cnt FROM ($edgesSql) e
          JOIN ($seedsSql) s ON e.dst = s.node GROUP BY e.src, s.label""",
    "j3_apply_outer" ->
      s"""SELECT v.id, coalesce(s.label, -1) AS label FROM ($verticesSql) v
          LEFT JOIN ($seedsSql) s ON v.id = s.node""",
    "q_undirected_canon" ->
      s"""SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          FROM ($edgesSql) WHERE src <> dst""",
    // BFS min-hop levels via bounded recursive CTE: each recursion step
    // advances the frontier one level, UNION dedups (id, lvl) pairs, and
    // min(lvl) per id is the exact BFS level once the bound (100) exceeds
    // the graph's eccentricity from the source. SSSP's oracle (`v5_sssp`
    // below) avoids the recursive-UNION explosion (real-valued path sums
    // never dedup) by a fixed 40-round Bellman-Ford relaxation unroll over
    // MATERIALIZED CTE stages instead; the serial Bellman-Ford differential
    // in GraphAlgoSpec double-covers it.
    "v4_bfs" ->
      s"""WITH RECURSIVE e AS (
            SELECT DISTINCT src, dst FROM ($edgesSql)
          ), reach(id, lvl) AS (
            SELECT (SELECT min(src) FROM ($edgesSql)) AS id, 0 AS lvl
            UNION
            SELECT e.dst, reach.lvl + 1 FROM reach JOIN e ON e.src = reach.id
            WHERE reach.lvl < 100
          )
          SELECT id, CAST(min(lvl) AS BIGINT) AS level FROM reach GROUP BY id ORDER BY id""",
    "v3_cc" ->
      s"""WITH RECURSIVE und AS (
            SELECT DISTINCT least(src,dst) AS a, greatest(src,dst) AS b FROM ($edgesSql) WHERE src <> dst
          ), bidir AS (
            SELECT a AS src, b AS dst FROM und UNION SELECT b AS src, a AS dst FROM und
          ), v AS ($verticesSql),
          reach(id, r) AS (
            SELECT id, id FROM v
            UNION
            SELECT e.dst, reach.r FROM reach JOIN bidir e ON e.src = reach.id
          )
          SELECT id, min(r) AS component FROM reach GROUP BY id ORDER BY id""",
    "v6_triangles" ->
      s"""WITH canon AS (
            SELECT DISTINCT least(src,dst) AS a, greatest(src,dst) AS b FROM ($edgesSql) WHERE src <> dst
          ), tri AS (
            SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM canon e1
            JOIN canon e2 ON e2.a = e1.b
            JOIN canon e3 ON e3.a = e1.a AND e3.b = e2.b
          ), mem AS (
            SELECT x AS id FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri
          ), v AS ($verticesSql)
          SELECT v.id, coalesce(t.n, 0) AS triangles FROM v
          LEFT JOIN (SELECT id, count(*) AS n FROM mem GROUP BY id) t ON v.id = t.id
          ORDER BY v.id""",
    "q_exact_dedup" ->
      "SELECT md5(text) AS text_md5, min(doc_id) AS keeper, count(*) AS n_docs FROM documents GROUP BY md5(text)",
    "q_window_dedup" ->
      """SELECT doc_id FROM (
           SELECT doc_id, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk
           FROM documents) WHERE rk = 1 ORDER BY doc_id""",
    // exact cosine top-k (rank-only output): ordering is stable across the
    // engines because every adjacent-cosine gap in the top-6 is ≥ 1.9e-5
    // on the fixed testdata — 100× the float-vs-double computation
    // divergence and far above Spark's 1e-9 pre-rank rounding grid
    "q_knn_brute" ->
      """WITH q AS (SELECT * FROM embeddings WHERE vec_id < 10),
         sc AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                  list_cosine_similarity(q.embedding, e.embedding) AS c
                FROM q JOIN embeddings e ON e.vec_id <> q.vec_id),
         rk AS (SELECT query_id, neighbor_id,
                  row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rank
                FROM sc)
         SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank
         FROM rk WHERE rank <= 5 ORDER BY query_id, rank""",
    // exact all-pairs cosine near-dup (float-vs-double divergence is
    // ~1e-7; the 0.40 threshold and the 2dp rounding grid sit ≥1e-5 from
    // every pair's cosine in the fixed testdata — verified, stable)
    "q_embedding_neardups" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.embedding, b.embedding), 2) AS cos
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.40
         ORDER BY id_a, id_b""",
    // full text-analysis enrichment (minus the rolling-hash fingerprint):
    // language-id via stopword overlap (ties → lexicographically larger
    // lang, matching array_max over (score, lang) structs), Gopher/C4-style
    // quality, token counts. All ratios derive from integer counts via
    // double division replicated in the exact same association, so the
    // doubles are bit-identical across engines and round(·, 6) agrees.
    "q_text_analyze" -> {
      val langRows = TextAnalysis.stopwordLists.toSeq.sortBy(_._1).map {
        case (l, ws) => s"('$l', [${ws.map(w => s"'$w'").mkString(",")}])"
      }.mkString(",\n          ")
      val allStop = "[" + TextAnalysis.stopwordLists.values.flatten.toSeq.distinct
        .map(w => s"'$w'").mkString(",") + "]"
      s"""WITH langs(lang, sw) AS (VALUES
          $langRows),
        toks AS (
          SELECT doc_id, text, regexp_extract_all(lower(text), '[\\p{L}\\p{N}]+') AS tk
          FROM documents),
        scored AS (
          SELECT t.doc_id, l.lang, len(list_intersect(t.tk, l.sw)) AS score
          FROM toks t CROSS JOIN langs l),
        best AS (
          SELECT doc_id, lang, score,
                 row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
          FROM scored),
        lang1 AS (
          SELECT doc_id, CASE WHEN score > 0 THEN lang ELSE 'und' END AS pred_lang
          FROM best WHERE rn = 1),
        q AS (
          SELECT t.doc_id,
            CAST(length(t.text) AS DOUBLE) AS lend,
            CAST(len(t.tk) AS DOUBLE) AS ntok,
            len(t.tk) AS n_tokens,
            CASE WHEN len(t.tk) > 0
                 THEN CAST(coalesce(list_sum(list_transform(t.tk, x -> length(x))), 0) AS DOUBLE) / CAST(len(t.tk) AS DOUBLE)
                 ELSE 0.0 END AS mwl,
            (CAST(length(t.text) AS DOUBLE) - CAST(length(regexp_replace(t.text, '[[:punct:]]', '', 'g')) AS DOUBLE))
              / greatest(CAST(length(t.text) AS DOUBLE), 1.0) AS punct,
            (CAST(length(t.text) AS DOUBLE) - CAST(length(regexp_replace(t.text, '[0-9]', '', 'g')) AS DOUBLE))
              / greatest(CAST(length(t.text) AS DOUBLE), 1.0) AS digits,
            CAST(len(list_intersect(t.tk, $allStop)) AS DOUBLE) AS stophits,
            len(regexp_extract_all(t.text, '\\S+')) AS n_ws_tokens,
            CAST(coalesce(list_sum(list_transform(t.tk, x -> CAST(ceil(length(x)/4.0) AS BIGINT))), 0) AS BIGINT) AS n_bpe_tokens
          FROM toks t),
        q2 AS (
          SELECT doc_id, n_tokens, n_ws_tokens, n_bpe_tokens, mwl, punct,
            CASE WHEN ntok > 0 THEN stophits / least(ntok, 40.0) ELSE 0.0 END AS stopratio,
            CASE WHEN lend >= 50 AND lend <= 20000 THEN 1.0 WHEN lend > 0 THEN 0.5 ELSE 0.0 END AS lenscore,
            CASE WHEN mwl >= 3 AND mwl <= 10 THEN 1.0 ELSE 0.5 END AS wordscore,
            CASE WHEN punct <= 0.2 THEN 1.0 ELSE greatest(0.0, 1.0 - punct) END AS punctscore,
            CASE WHEN digits <= 0.2 THEN 1.0 ELSE greatest(0.0, 1.0 - digits) END AS digitscore
          FROM q)
        SELECT q2.doc_id, l.pred_lang,
          round(q2.lenscore * 0.25 + q2.wordscore * 0.2 + q2.punctscore * 0.2 +
                q2.digitscore * 0.15 + least(1.0, q2.stopratio * 2.0) * 0.2, 6) AS quality,
          CAST(q2.n_tokens AS BIGINT) AS n_tokens,
          CAST(q2.n_ws_tokens AS BIGINT) AS n_ws_tokens,
          q2.n_bpe_tokens,
          round(q2.mwl, 6) AS mean_word_len,
          round(q2.punct, 6) AS punct_ratio
        FROM q2 JOIN lang1 l USING (doc_id)
        ORDER BY doc_id"""
    },
    "q_doc_stats" ->
      """SELECT doc_id, length(text) AS n_chars_calc,
           len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n_ws_tokens
         FROM documents"""
  )
}
