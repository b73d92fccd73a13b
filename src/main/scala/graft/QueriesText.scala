package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{TextFunctions => TF}
import graft.operators._
import Queries.Q

/** North-star LLM-data-pipeline queries: text analysis, deduplication
  * (exact / MinHash+LSH / SimHash / n-gram Jaccard), and embedding
  * similarity search over the `documents` and `embeddings` tables.
  *
  * Hash-sketch operators (MinHash / SimHash / LSH) register their
  * ORACLE-MODE variants (TextDedup.*31 — identical banding algebra with
  * every hash md5-derived, graft.plans.OracleHashes), so DuckDB can
  * recompute the entire pipeline and these queries ARE hash-checked like
  * everything else. Production paths stay on xxhash64; cross-mode
  * agreement on the found pairs is spec-asserted (TextDedupSpec).
  */
object QueriesText {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.read(s, dir, name)   // schema-cached parquet read (see Tables)

  /** documents ∪ shifted copy of every 5th doc — deterministic duplicate
    * injection so dedup operators have work to do. */
  private def docsWithDups(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    d.unionByName(
      d.filter(col("doc_id") % 5 === 0)
        .withColumn("doc_id", col("doc_id") + 10000000L))
  }

  /** `d`: the SQL twin of [[docsWithDups]]. */
  private lazy val dupDocsCte: String = """d AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 5 = 0)"""

  /** The first 60 docs of [[docsWithDups]] — the bounded slice q31, q62,
    * q63 and q175 compare all pairs of. */
  private def dupSlice(s: SparkSession, dir: String): DataFrame =
    docsWithDups(s, dir).filter(col("doc_id") % 10000000L < 60)

  /** The slice's 5-shingle Jaccard pairs at 0.2 (q31, q62, q63). */
  private def slicePairs(docs: DataFrame): DataFrame =
    TextDedup.ngramJaccardPairs(docs, "text", "doc_id",
      shingleSize = 5, threshold = 0.2)

  /** `d` (the [[dupSlice]] rows, carrying `cols`) and `sh` (each doc's
    * distinct 5-char shingles). */
  private def sliceShingleCtes(cols: String = ""): String =
    s"""d AS (
              SELECT doc_id, text$cols FROM documents WHERE doc_id < 60
              UNION ALL
              SELECT doc_id + 10000000, text$cols FROM documents
              WHERE doc_id % 5 = 0 AND doc_id < 60),
            sh AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       range(1, greatest(len(s) - 4, 1) + 1),
                       i -> substr(s, i, 5))) AS shingles
              FROM (SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS s FROM d))"""

  /** `e` (the (id_a, id_b) rows of `pairs` in both directions) and
    * `reach` (their transitive closure): the recursive components every
    * near-dup oracle resolves (q62, q63, q72, q91, q110, q122). */
  private def reachCtes(pairs: String): String =
    s"""e AS (SELECT id_a AS a, id_b AS b FROM $pairs
                  UNION SELECT id_b, id_a FROM $pairs),
            reach(a, b) AS (
              SELECT a, b FROM e
              UNION
              SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a)"""

  /** `pairs` (the slice's pairs at Jaccard >= 0.2) and their
    * [[reachCtes]]: q62, q63. */
  private lazy val slicePairReachCtes: String = """pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
                      len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.2),
            """ + reachCtes("pairs")

  /** `tk`: the whitespace tokens of each `src` row's lowercased, trimmed
    * text — the SQL of the TextFunctions tokenizer. */
  private def tokensCte(src: String): String =
    s"""tk AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                 t -> len(t) > 0) AS tk
              FROM $src)"""

  // ---------------------------------------------------------------- q25
  // Language ID via stopword-hit heuristic.
  private val q25 = Q("q25_lang_id",
    (s, dir) => t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        TF.langId(col("text")).as("lang_guess")),
    Some("""WITH toks AS (
              SELECT doc_id, lang,
                     list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                 t -> len(t) > 0) AS tk
              FROM documents),
            hits AS (
              SELECT doc_id, lang,
                len(list_filter(tk, t -> list_contains(['the','and','of','to','a','in','is','that','it','for'], t))) AS en,
                len(list_filter(tk, t -> list_contains(['el','la','de','que','y','en','un','los','se','por'], t))) AS es,
                len(list_filter(tk, t -> list_contains(['le','la','de','et','les','des','un','une','du','est'], t))) AS fr,
                len(list_filter(tk, t -> list_contains(['der','die','und','das','ist','von','den','mit','ein','zu'], t))) AS de
              FROM toks)
            SELECT doc_id, lang,
                   CASE WHEN greatest(en, es, fr, de) = 0 THEN 'und'
                        WHEN en >= es AND en >= fr AND en >= de THEN 'en'
                        WHEN es >= fr AND es >= de THEN 'es'
                        WHEN fr >= de THEN 'fr'
                        ELSE 'de' END AS lang_guess
            FROM hits"""))

  // ---------------------------------------------------------------- q26
  // Quality scoring (length / punctuation / stopword blend).
  /** `x`: each doc's tokens, char count and punctuation count — the
    * inputs of the qualityScore replay (q26, q84). */
  private lazy val qualityTokensCte: String = """x AS (
              SELECT doc_id, text,
                     list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                 t -> len(t) > 0) AS tk,
                     CAST(length(text) AS DOUBLE) AS chars,
                     CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) AS punct
              FROM documents)"""

  private val q26 = Q("q26_quality_score",
    (s, dir) => t(s, dir, "documents")
      .select(col("doc_id"), TF.qualityScore(col("text")).as("quality")),
    Some("WITH " + qualityTokensCte + """,
            y AS (
              SELECT doc_id,
                     CAST(len(tk) AS DOUBLE) AS ntok, chars, punct,
                     CASE WHEN len(tk) > 0 THEN
                       CAST(len(list_filter(tk, t -> list_contains(['the','and','of','to','a','in','is','that','it','for'], t))) AS DOUBLE) / len(tk)
                     ELSE 0.0 END AS stopr
              FROM x)
            SELECT doc_id,
                   round(0.4 * least(ntok / 200.0, 1.0)
                       + 0.2 * (CASE WHEN ntok > 0 AND chars / ntok BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END)
                       + 0.2 * (1.0 - (CASE WHEN chars > 0 THEN least(punct / chars * 5.0, 1.0) ELSE 1.0 END))
                       + 0.2 * least(stopr * 5.0, 1.0), 6) AS quality
            FROM y"""))

  // The DuckDB replay of the BPE apply loop (shared by q27 and q105).
  // Each word is a string of chr(31)-wrapped symbols ("\x1fa\x1f\x1fb\x1f");
  // the recursive CTE finds the lowest-ranked merges pair present
  // (list_sort on {r,a,b} structs sorts by rank) and `replace`s every
  // occurrence — plain replace IS the left-to-right non-overlapping pass
  // the published algorithm specifies, and the \x1f wrapping keeps a
  // pair from matching across symbol boundaries ("ba","a" never matches
  // pair ("a","a")). Words with no applicable pair drop out of the
  // recursion and are collected by the nh = 0 filter.
  private def bpeMergesSqlList: String =
    TF.DemoMerges.zipWithIndex.map { case ((a, b), i) =>
      s"{'r': $i, 'a': '$a', 'b': '$b'}"
    }.mkString("[", ", ", "]")

  /** CTE chain `params, w0, w1, wr, rec, fin, tok` tokenizing
    * `corpus(doc_id, text)`; compose after a `WITH RECURSIVE corpus AS
    * (...)`. `tok` has (doc_id, wi, toks list) per word. */
  private def bpeRecSql: String =
    s"""params AS (SELECT $bpeMergesSqlList AS ml),
            w0 AS (
              SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
                                         t -> len(t) > 0) AS ws
              FROM corpus),
            w1 AS (
              SELECT doc_id, unnest(generate_series(1, len(ws))) AS wi, ws FROM w0),
            wr AS (
              SELECT doc_id, wi,
                     list_aggregate(list_transform(string_split(ws[wi], ''),
                       c -> chr(31) || c || chr(31)), 'string_agg', '') AS s
              FROM w1),
            rec AS (
              SELECT doc_id, wi, s FROM wr
              UNION ALL
              SELECT doc_id, wi,
                     replace(s, chr(31) || h.a || chr(31) || chr(31) || h.b || chr(31),
                                chr(31) || h.a || h.b || chr(31)) AS s
              FROM (SELECT doc_id, wi, s,
                           list_sort(list_filter(ml, p ->
                             contains(s, chr(31) || p.a || chr(31) || chr(31) || p.b || chr(31))))[1] AS h
                    FROM rec, params) t
              WHERE h IS NOT NULL),
            fin AS (
              SELECT doc_id, wi, s
              FROM (SELECT doc_id, wi, s,
                           len(list_filter(ml, p ->
                             contains(s, chr(31) || p.a || chr(31) || chr(31) || p.b || chr(31)))) AS nh
                    FROM rec, params) t
              WHERE nh = 0),
            tok AS (
              SELECT doc_id, wi,
                     string_split(trim(s, chr(31)), chr(31) || chr(31)) AS toks
              FROM fin)"""

  // ---------------------------------------------------------------- q27
  // Token counting: whitespace, the REAL merges-table BPE count
  // (budget-load-bearing in a training pipeline — the gated path), and
  // the ceil(len/4)-style regex proxy kept as a comparison column.
  private val q27 = Q("q27_token_counts",
    (s, dir) => t(s, dir, "documents")
      .select(col("doc_id"),
        TF.tokenCount(col("text")).as("ws_tokens"),
        size(TF.bpeTokens(col("text"), TF.DemoMerges)).cast(LongType).as("bpe_tokens"),
        TF.bpeTokenCount(col("text")).as("bpe_tokens_proxy")),
    Some(s"""WITH RECURSIVE corpus AS (SELECT doc_id, text FROM documents),
            $bpeRecSql,
            bpe AS (
              SELECT doc_id, CAST(sum(len(toks)) AS BIGINT) AS n_bpe
              FROM tok GROUP BY doc_id)
            SELECT d.doc_id,
                   CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                        t -> len(t) > 0)) AS BIGINT) AS ws_tokens,
                   coalesce(bpe.n_bpe, 0) AS bpe_tokens,
                   CAST(len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9\\s]')) AS BIGINT) AS bpe_tokens_proxy
            FROM documents d LEFT JOIN bpe USING (doc_id)"""))

  // ---------------------------------------------------------------- q28
  // Document fingerprint grouping. The demo query fingerprints with the
  // md5-chain form (DuckDB-expressible -> hash-checked oracle); the
  // xxhash64 rolling form stays the production scale path and the spec
  // asserts both induce the SAME duplicate grouping.
  private val q28 = Q("q28_fingerprint",
    // Spread: the md5-chain fold is an interpreted HOF per token — on a
    // single-split scan it serializes on one core (PlanAuditSpec rule 4)
    (s, dir) => Spread.toCores(docsWithDups(s, dir))
      .select(col("doc_id"), TF.md5Fingerprint(col("text")).as("fp"))
      .groupBy(col("fp")).agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc_id"))
      .filter(col("n_docs") > 1),
    Some("WITH " + dupDocsCte + ",\n            " + tokensCte("d") + """,
            fp AS (
              SELECT doc_id,
                     list_reduce(list_prepend('', list_transform(tk, t -> md5(t))),
                                 (acc, h) -> md5(acc || h)) AS fp
              FROM tk)
            SELECT fp, count(*) AS n_docs, min(doc_id) AS min_doc_id
            FROM fp GROUP BY 1 HAVING count(*) > 1"""))

  // ---------------------------------------------------------------- q29
  // Exact-duplicate groups via content key.
  private val q29 = Q("q29_exact_dup_docs",
    (s, dir) => TextDedup.exactDupGroups(docsWithDups(s, dir), "text"),
    Some("WITH " + dupDocsCte + """
            SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS content_key,
                   count(*) AS dup_count
            FROM d GROUP BY 1 HAVING count(*) > 1"""))

  /** Oracle-SQL fragments for the md5/31-bit sketch pipelines, generated
    * from the SAME constants the native expressions hash with
    * (graft.plans.OracleHashes) — signature minima, band hashes, bucket
    * cap, candidate join, estimate prefilter and exact-Jaccard verify are
    * all recomputed by DuckDB, so the ENTIRE LSH pipeline is held to the
    * rows+schema+hash bar, not a rows-only check. */
  private object SketchSql {
    import graft.plans.OracleHashes.{aConst, bConst}
    val K = 32 // 8 bands x 4 rows

    private val mins = (0 until K).map(i =>
      s"min((${aConst(i)} * h + ${bConst(i)}) % 2147483647) AS s$i")
      .mkString(", ")
    private val sigList = (0 until K).map(i => s"s$i").mkString("[", ",", "]")

    /** CTE chain from `documents` (+ injected dups) to `ver`
      * (id_a, id_b, jaccard over candidate pairs). */
    val minhashCtes: String =
      s"""d AS (
              SELECT doc_id, text, n_chars FROM documents
              UNION ALL
              SELECT doc_id + 10000000, text, n_chars FROM documents WHERE doc_id % 5 = 0),
            sh AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       range(1, greatest(len(s) - 8, 1) + 1),
                       i -> substr(s, i, 9))) AS shingles
              FROM (SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS s FROM d)),
            hh AS (
              SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647 AS h
              FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)),
            sig AS (SELECT doc_id, $mins FROM hh GROUP BY doc_id),
            sg AS (SELECT doc_id, $sigList AS sigs FROM sig),
            band AS (
              SELECT doc_id, b, md5(array_to_string(sigs[b*4+1 : b*4+4], ',')) AS bh
              FROM sg CROSS JOIN (SELECT unnest(range(0, 8)) AS b)),
            capped AS (
              SELECT doc_id, b, bh FROM (
                SELECT doc_id, b, bh, count(*) OVER (PARTITION BY b, bh) AS bc FROM band)
              WHERE bc <= 1000),
            cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
              FROM capped a JOIN capped b2
                ON a.b = b2.b AND a.bh = b2.bh AND a.doc_id < b2.doc_id),
            est AS (
              SELECT c.id_a, c.id_b, sa.shingles AS sha, sb.shingles AS shb
              FROM cand c
              JOIN sg ga ON ga.doc_id = c.id_a
              JOIN sg gb ON gb.doc_id = c.id_b
              JOIN sh sa ON sa.doc_id = c.id_a
              JOIN sh sb ON sb.doc_id = c.id_b
              WHERE CAST(len(list_filter(range(1, ${K + 1}), i -> ga.sigs[i] = gb.sigs[i])) AS DOUBLE) / $K >= 0.6),
            ver AS (
              SELECT id_a, id_b,
                     CAST(len(list_intersect(sha, shb)) AS DOUBLE) /
                       len(list_distinct(list_concat(sha, shb))) AS jaccard
              FROM est)"""

    /** `WITH RECURSIVE` [[minhashCtes]], the verified pairs `p`
      * (Jaccard >= 0.8) and their [[reachCtes]]. */
    def nearDupReachCtes(p: String): String =
      s"""WITH RECURSIVE $minhashCtes,
            $p AS (SELECT id_a, id_b FROM ver WHERE jaccard >= 0.8),
            """ + reachCtes(p)

    /** DuckDB rendering of TextFunctions.qualityScore over `textExpr` —
      * kept in lockstep with the q26 oracle formula. */
    def qualitySql(textExpr: String): String =
      s"""(SELECT round(0.4 * least(CAST(len(tk) AS DOUBLE) / 200.0, 1.0)
         |     + 0.2 * (CASE WHEN len(tk) > 0
         |                AND CAST(length($textExpr) AS DOUBLE) / len(tk) BETWEEN 3.0 AND 10.0
         |              THEN 1.0 ELSE 0.5 END)
         |     + 0.2 * (1.0 - (CASE WHEN length($textExpr) > 0
         |              THEN least(CAST(len(regexp_extract_all($textExpr, '[^A-Za-z0-9\\s]')) AS DOUBLE)
         |                         / length($textExpr) * 5.0, 1.0) ELSE 1.0 END))
         |     + 0.2 * least((CASE WHEN len(tk) > 0
         |              THEN CAST(len(list_filter(tk, t -> list_contains(['the','and','of','to','a','in','is','that','it','for'], t))) AS DOUBLE) / len(tk)
         |              ELSE 0.0 END) * 5.0, 1.0), 6)
         | FROM (SELECT list_filter(string_split_regex(lower(trim($textExpr)), '\\s+'),
         |                          t -> len(t) > 0) AS tk))""".stripMargin
  }

  // ---------------------------------------------------------------- q30
  // MinHash+LSH near-dup pairs (verified by true Jaccard) in oracle-mode
  // hashing: md5-derived 31-bit universal hashes (same banding algebra as
  // the xxhash64 production path; cross-mode pair agreement is
  // spec-asserted). DuckDB recomputes the FULL pipeline.
  // 9-char shingles: the synthetic docs share a small vocabulary, so
  // 5-gram sets overlap ~0.17 between RANDOM pairs and flood the LSH
  // buckets; at 9 chars random-pair Jaccard is ~0.03 while true
  // near-dups stay ~1.0 — candidates collapse to genuine matches.
  /** The near-dup pair frame the dedup stage produces (the exact q30
    * pipeline), computed ONCE per (session, sf dir) and pinned
    * ([[Pin.data]]) for downstream CONSUMERS — q110 passes it as the
    * precomputed `pairs` argument `Split.leakageSafeAssign` takes. In a
    * real 100 TB pipeline the dedup stage has already paid for this
    * frame; recomputing the LSH pipeline inside every downstream
    * consumer would double the most expensive stage. q30 itself still
    * registers the pipeline DIRECTLY (not the memo) so its benchmark
    * timing keeps measuring the producer cost honestly; the DuckDB
    * oracles stay self-contained either way (each replays the pair
    * pipeline in SQL). */
  // Lifecycle (same-session reuse, replaced-session invalidation, no
  // self-pinning keys) lives in — and is spec-driven through —
  // [[graft.operators.SessionFrameMemo]] (MemoSpec), not bespoke
  // registry code.
  private val pairsMemo = new SessionFrameMemo

  /** The q30 MinHash-LSH pair pipeline over `docs` (31-bit oracle-mode
    * hashing, 9-char shingles, 8 bands x 4 rows, Jaccard >= 0.8). */
  private def minHashPairs(docs: DataFrame): DataFrame =
    TextDedup.minHashNearDups31(docs, "text", "doc_id",
      threshold = 0.8, shingleSize = 9, bands = 8, rowsPerBand = 4)
  private def nearDupPairs(s: SparkSession, dir: String): DataFrame =
    pairsMemo.getOrCompute(s, dir) {
      Pin.data(minHashPairs(docsWithDups(s, dir)))
    }

  private val q30 = Q("q30_minhash_neardup",
    (s, dir) => minHashPairs(docsWithDups(s, dir)),
    Some(s"""WITH ${SketchSql.minhashCtes}
            SELECT id_a, id_b, round(jaccard, 6) AS jaccard
            FROM ver WHERE jaccard >= 0.8"""))

  // ---------------------------------------------------------------- q31
  // Brute-force n-gram Jaccard pairs on a bounded slice (the oracle for
  // LSH): doc_id < 60 keeps the cross product tiny at any SF.
  private val q31 = Q("q31_ngram_jaccard",
    (s, dir) => slicePairs(dupSlice(s, dir)),
    Some(s"""WITH ${sliceShingleCtes()},
            pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
                       len(list_distinct(list_concat(a.shingles, b.shingles))) AS jaccard
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
            SELECT id_a, id_b, round(jaccard, 6) AS jaccard
            FROM pairs WHERE jaccard >= 0.2"""))

  // ---------------------------------------------------------------- q32
  // SimHash near-dup pairs (hamming <= 3 via 15-bit chunk blocking) in
  // oracle-mode hashing: 60-bit md5-derived sketch, so DuckDB recomputes
  // sketch, blocking, and hamming verify bit-for-bit. The xxhash64
  // 64-bit production path stays (simHashNearDups); cross-mode pair
  // agreement is spec-asserted.
  private val q32 = Q("q32_simhash_neardup",
    (s, dir) => TextDedup.simHashNearDups60(docsWithDups(s, dir), "text", "doc_id"),
    Some {
      val bits = (0 until 60).map(j =>
        s"CASE WHEN sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) >= 0 THEN (1::BIGINT << $j) ELSE 0 END AS b$j")
        .mkString(", ")
      val packed = (0 until 60).map(j => s"b$j").mkString(" + ")
      s"""WITH $dupDocsCte,
            tok AS (
              SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                                t -> len(t) > 0)) AS t
              FROM d),
            hh AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tok),
            bs AS (SELECT doc_id, $bits FROM hh GROUP BY doc_id),
            p0 AS (SELECT doc_id, $packed AS ph FROM bs),
            ph AS (
              SELECT dd.doc_id, coalesce(p0.ph, (1::BIGINT << 60) - 1) AS ph
              FROM (SELECT doc_id FROM d) dd LEFT JOIN p0 USING (doc_id)),
            ch AS (
              SELECT doc_id, ph, c, (ph >> (c * 15)) & 32767 AS cv
              FROM ph CROSS JOIN (SELECT unnest(range(0, 4)) AS c)),
            cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b,
                     CAST(bit_count(xor(a.ph, b2.ph)) AS INT) AS hamming
              FROM ch a JOIN ch b2
                ON a.c = b2.c AND a.cv = b2.cv AND a.doc_id < b2.doc_id)
            SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 3"""
    })

  // ---------------------------------------------------------------- q33
  // Brute-force cosine top-k (every 50th vector queries the corpus).
  private val q33 = Q("q33_cosine_topk",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(
        e.filter(col("vec_id") % 50 === 0), e, "vec_id", "embedding", k = 3)
    },
    Some("""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0),
            c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
            s AS (
              SELECT query_id, neighbor_id,
                list_sum(list_transform(range(1, 65), i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))) /
                (sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
                 sqrt(list_sum(list_transform(cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
              FROM q CROSS JOIN c WHERE neighbor_id <> query_id),
            r AS (
              SELECT query_id, neighbor_id, cos,
                     row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
              FROM s)
            SELECT query_id, neighbor_id, round(cos, 6) AS cosine, CAST(rn AS INT) AS rank
            FROM r WHERE rn <= 3"""))

  /** Hyperplane-LSH oracle fragments: the SAME deterministic planes the
    * operators draw (VectorFunctions.randomPlanes, fixed seed) are
    * rendered as SQL literals, so DuckDB recomputes the sign-bit buckets,
    * bucket caps, candidate joins, and cosines of the ANN queries — the
    * full pipelines get hash-checked, not rows-only. Double literals are
    * Java shortest-round-trip strings; DuckDB's parser is correctly
    * rounding, so the bits survive the text hop. */
  private object PlaneSql {
    import graft.functions.VectorFunctions.randomPlanes

    /** VALUES rows (t, pli, p) for `tables` x `planesPerTable` planes. */
    def planeValues(tables: Int, planesPerTable: Int, dim: Int, seed: Long): String =
      (0 until tables).flatMap { tt =>
        randomPlanes(planesPerTable, dim, seed + tt).zipWithIndex.map {
          case (p, i) => s"($tt, $i, [${p.mkString(",")}])"
        }
      }.mkString(", ")

    /** Exact q33-proven cosine fragment over two FLOAT[] columns. */
    def cosSql(qv: String, cv: String): String =
      s"""list_sum(list_transform(range(1, 65), i -> CAST($qv[i] AS DOUBLE) * CAST($cv[i] AS DOUBLE))) /
                (sqrt(list_sum(list_transform($qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
                 sqrt(list_sum(list_transform($cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"""

    /** CTE producing (id, bucket) per hash table for rows of `src`
      * (id column `idAs`): bucket = "t:" + concatenated sign bits of the
      * plane dots, matching HyperplaneBucketExpr's sequential-sum signs. */
    def bucketCte(name: String, src: String, idAs: String): String =
      s"""$name AS (
              SELECT $idAs, CAST(t AS VARCHAR) || ':' ||
                     string_agg(CASE WHEN dp >= 0 THEN '1' ELSE '0' END, '' ORDER BY pli) AS bucket
              FROM (
                SELECT s.vec_id AS $idAs, pl.t, pl.pli,
                       list_sum(list_transform(range(1, 65),
                         i -> CAST(s.embedding[i] AS DOUBLE) * pl.p[i])) AS dp
                FROM $src s CROSS JOIN pl)
              GROUP BY $idAs, t)"""

    /** `bc` (every corpus vector's bucket per table), `cnt` and `cok`
      * (the corpus rows of buckets holding at most 10,000 vectors). */
    lazy val cappedCorpusCtes: String =
      bucketCte("bc", "embeddings", "neighbor_id") + """,
            cnt AS (SELECT bucket, count(*) AS n FROM bc GROUP BY bucket),
            cok AS (SELECT bc.neighbor_id, bc.bucket
                    FROM bc JOIN cnt USING (bucket) WHERE cnt.n <= 10000)"""

    /** `bq` (each `qs` query's buckets), [[cappedCorpusCtes]] and `cand`
      * (the distinct capped-bucket (query, neighbor) pairs). */
    lazy val lshCandCtes: String =
      bucketCte("bq", "qs", "query_id") + ",\n            " + cappedCorpusCtes + """,
            cand AS (
              SELECT DISTINCT q.query_id, c.neighbor_id
              FROM bq q JOIN cok c USING (bucket)
              WHERE q.query_id <> c.neighbor_id)"""
  }

  // ---------------------------------------------------------------- q34
  // LSH-bucketed ANN — the scale path. The oracle rebuilds the 8x8
  // hyperplane tables from embedded plane literals and replays the
  // bucket join + top-k exactly.
  private val q34 = Q("q34_ann_lsh",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.lshTopK(e.filter(col("vec_id") % 50 === 0), e,
        "vec_id", "embedding", k = 3)
    },
    Some(s"""WITH pl(t, pli, p) AS (VALUES ${PlaneSql.planeValues(8, 8, 64, 42L)}),
            qs AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 50 = 0),
            ${PlaneSql.lshCandCtes},
            sc AS (
              SELECT cand.query_id, cand.neighbor_id,
                     ${PlaneSql.cosSql("qe.embedding", "ce.embedding")} AS cos
              FROM cand
              JOIN embeddings qe ON qe.vec_id = cand.query_id
              JOIN embeddings ce ON ce.vec_id = cand.neighbor_id),
            r AS (
              SELECT query_id, neighbor_id, cos,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY cos DESC, neighbor_id) AS rn
              FROM sc)
            SELECT query_id, neighbor_id, round(cos, 6) AS cosine,
                   CAST(rn AS INT) AS rank
            FROM r WHERE rn <= 3"""))

  /** The embeddings plus a copy of every 20th vector (id + 10,000,000)
    * with its first component nudged by 0.05: planted near-dups at
    * cosine ~0.99 (q35, q80, q99). */
  private def perturbedCorpus(e: DataFrame): DataFrame =
    e.unionByName(e.filter(col("vec_id") % 20 === 0)
      .withColumn("vec_id", col("vec_id") + 10000000L)
      .withColumn("embedding",
        transform(col("embedding"), (x, i) =>
          when(i === 0, x + lit(0.05f)).otherwise(x))))

  /** `corp`: [[perturbedCorpus]] in SQL, carrying `cols`. */
  private def perturbedCorpusCte(cols: String = ""): String =
    s"""corp AS (
              SELECT vec_id, embedding$cols FROM embeddings
              UNION ALL
              SELECT vec_id + 10000000,
                     list_concat([embedding[1] + CAST(0.05 AS FLOAT)], embedding[2:])$cols
              FROM embeddings WHERE vec_id % 20 = 0)"""

  // ---------------------------------------------------------------- q35
  // Embedding-cosine near-duplicate pairs via LSH buckets; same embedded
  // plane literals, window bucket cap, pair self-join and cosine verify
  // replayed by the oracle.
  private val q35 = Q("q35_embedding_neardup",
    (s, dir) => {
      // random embeddings have no natural near-dups — inject a perturbed
      // copy of every 20th vector (one component nudged: cosine ~0.99).
      val e = t(s, dir, "embeddings")
      Similarity.embeddingNearDups(perturbedCorpus(e),
        "vec_id", "embedding", threshold = 0.9)
    },
    Some(s"""WITH pl(t, pli, p) AS (VALUES ${PlaneSql.planeValues(8, 8, 64, 42L)}),
            ${perturbedCorpusCte()},
            ${PlaneSql.bucketCte("bk", "corp", "vid")},
            capped AS (
              SELECT vid, bucket FROM (
                SELECT vid, bucket, count(*) OVER (PARTITION BY bucket) AS bc FROM bk)
              WHERE bc <= 1000),
            cand AS (
              SELECT DISTINCT a.vid AS id_a, b2.vid AS id_b
              FROM capped a JOIN capped b2
                ON a.bucket = b2.bucket AND a.vid < b2.vid),
            sc AS (
              SELECT cand.id_a, cand.id_b,
                     ${PlaneSql.cosSql("ea.embedding", "eb.embedding")} AS cos
              FROM cand
              JOIN corp ea ON ea.vec_id = cand.id_a
              JOIN corp eb ON eb.vec_id = cand.id_b)
            SELECT id_a, id_b, round(cos, 6) AS cosine
            FROM sc WHERE cos >= 0.9"""))

  // ---------------------------------------------------------------- q42
  // Multimodal plumbing: binary payloads carrying REAL container headers
  // (PNG / JPEG-with-COM-segment / GIF), decoded back by the byte-level
  // header parser (graft.plans.ImageMeta), plus byte-histogram feature
  // extract and frame sampling. The oracle derives the expected
  // width/height/format/payload-length from the id arithmetic the shim
  // embeds — so a parser that misreads a single header byte
  // hash-mismatches.
  private val q42 = Q("q42_multimodal",
    (s, dir) => {
      import graft.multimodal.Multimodal
      val media = Multimodal.asMedia(
        t(s, dir, "documents").filter(col("doc_id") < 100), "doc_id", "text")
      val decoded = media
        .withColumn("meta", Multimodal.decodeHeader(col("payload")))
        .withColumn("features", Multimodal.byteHistogram(col("payload")))
      Multimodal.frameSample(decoded, chunkBytes = 64, stride = 4)
        .join(decoded.select(col("media_id"), col("media_type"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          col("meta.format").as("format"), col("features"),
          Multimodal.resizeSpec(col("meta.width"), col("meta.height"),
            maxW = 256, maxH = 256).as("rs")), Seq("media_id"))
        .select(col("media_id"), col("frame_idx"), length(col("frame")).as("frame_bytes"),
          col("media_type"), col("width"), col("height"), col("format"),
          size(col("features")).as("n_feature_buckets"),
          col("rs.target_w").as("target_w"), col("rs.target_h").as("target_h"))
    },
    Some("""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
            m AS (
              SELECT doc_id AS media_id,
                     CAST(doc_id % 1920 + 1 AS INT) AS width,
                     CAST(doc_id % 1080 + 1 AS INT) AS height,
                     CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'gif' END AS format,
                     CASE doc_id % 3 WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/jpeg' ELSE 'image/gif' END AS media_type,
                     (CASE doc_id % 3 WHEN 0 THEN 29
                           WHEN 1 THEN 16 + (doc_id % 7 + 1)
                           ELSE 10 END) + octet_length(encode(text)) AS plen
              FROM d),
            f AS (
              SELECT media_id, width, height, format, media_type, plen,
                     unnest(range(0, CAST(ceil(plen / 64.0) AS BIGINT), 4)) AS frame_idx
              FROM m)
            SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
                   CAST(least(64, plen - frame_idx * 64) AS INT) AS frame_bytes,
                   media_type, width, height, format,
                   CAST(16 AS INT) AS n_feature_buckets,
                   CAST(greatest(round(width * least(1.0, 256.0 / CAST(width AS DOUBLE),
                                                          256.0 / CAST(height AS DOUBLE))), 1)
                        AS INT) AS target_w,
                   CAST(greatest(round(height * least(1.0, 256.0 / CAST(width AS DOUBLE),
                                                           256.0 / CAST(height AS DOUBLE))), 1)
                        AS INT) AS target_h
            FROM f"""))

  // ---------------------------------------------------------------- q53
  // Deterministic train/val/test split: a pure function of doc_id
  // (md5 bucket), so re-runs and other engines reproduce it exactly —
  // no document ever migrates between splits.
  private val q53 = Q("q53_doc_split",
    (s, dir) => Split.assign(t(s, dir, "documents"),
        col("doc_id"), Seq("train" -> 12, "val" -> 2, "test" -> 2))
      .select(col("doc_id"), col("bucket"), col("split")),
    Some("""WITH b AS (
              SELECT doc_id,
                     CAST(strpos('0123456789abcdef',
                                 substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1
                          AS BIGINT) AS bucket
              FROM documents)
            SELECT doc_id, bucket,
                   CASE WHEN bucket < 12 THEN 'train'
                        WHEN bucket < 14 THEN 'val'
                        ELSE 'test' END AS split
            FROM b"""))

  // ---------------------------------------------------------------- q54
  // Within-document repetition (Gopher/C4-style quality filter):
  // duplicate word-bigram fraction per doc, flag heavy repeaters.
  // The flag derives from the already-rounded fraction in a SECOND
  // Project: the interpreted HOF is evaluated once per row (CollapseProject
  // refuses to duplicate non-cheap expressions, SPARK-36718) instead of
  // twice — this halved the query's cost at sf0.1.
  private val q54 = Q("q54_repetition",
    (s, dir) => t(s, dir, "documents")
      .select(col("doc_id"),
        round(TF.dupNgramFraction(col("text"), 2), 6).as("dup_bigram_frac"))
      .withColumn("repetitive", col("dup_bigram_frac") > 0.2),
    Some("WITH " + tokensCte("documents") + """,
            f AS (
              SELECT doc_id,
                     CASE WHEN len(tk) < 2 THEN 0.0
                          ELSE 1.0 - CAST(len(list_distinct(list_transform(
                                 range(1, len(tk)),
                                 i -> tk[i] || ' ' || tk[i + 1]))) AS DOUBLE)
                               / (len(tk) - 1) END AS frac
              FROM tk)
            SELECT doc_id, round(frac, 6) AS dup_bigram_frac,
                   round(frac, 6) > 0.2 AS repetitive
            FROM f"""))

  // ---------------------------------------------------------------- q55
  // Train/eval decontamination: eval docs are 40-token prefixes of every
  // 10th document, so each flags (at least) its source doc with
  // overlap 1.0. Word-8-gram overlap, GPT-3-data-card style.
  private val q55 = Q("q55_decontaminate",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val eval = d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 20000000L).as("doc_id"),
          array_join(slice(TF.tokens(col("text")), 1, 40), " ").as("text"))
      Decontaminate.overlapPairs(d, eval, "text", "doc_id",
        n = 8, threshold = 0.5)
    },
    Some("""WITH tok AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                 t -> len(t) > 0) AS tk
              FROM documents),
            trg AS (
              SELECT doc_id AS train_id,
                     list_distinct(list_transform(
                       range(1, greatest(len(tk) - 7, 1) + 1),
                       i -> array_to_string(list_slice(tk, i, i + 7), ' '))) AS gs
              FROM tok),
            evg AS (
              SELECT doc_id + 20000000 AS eval_id,
                     list_distinct(list_transform(
                       range(1, greatest(len(list_slice(tk, 1, 40)) - 7, 1) + 1),
                       i -> array_to_string(list_slice(list_slice(tk, 1, 40), i, i + 7), ' '))) AS gs
              FROM tok WHERE doc_id % 10 = 0),
            p AS (
              SELECT t.train_id, e.eval_id,
                     CAST(len(list_intersect(t.gs, e.gs)) AS DOUBLE) / len(e.gs) AS f
              FROM trg t CROSS JOIN evg e)
            SELECT train_id, eval_id, round(f, 6) AS overlap_frac
            FROM p WHERE f >= 0.5"""))

  // ---------------------------------------------------------------- q56
  // Deterministic data mixing: all English docs + a 25 % hash-sample of
  // the rest — the sampling decision is a pure function of doc_id
  // (md5 bucket of 65536), identical across engines and re-runs.
  private val q56 = Q("q56_hash_mix",
    (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      Split.mix(Seq(
        ("en", d.filter(col("lang") === "en"), 1.0),
        ("other", d.filter(col("lang") =!= "en"), 0.25)), "doc_id")
    },
    Some("""WITH b AS (
              SELECT doc_id, lang,
                (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
              + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
              + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) AS bucket
              FROM documents)
            SELECT doc_id, lang, 'en' AS source FROM b WHERE lang = 'en' AND bucket < 65536
            UNION ALL
            SELECT doc_id, lang, 'other' AS source FROM b WHERE lang <> 'en' AND bucket < 16384"""))

  // ---------------------------------------------------------------- q58
  // GPT-style sequence packing: concatenate documents in doc_id order,
  // cut every 2048 tokens. The global token offset comes from the
  // distributed prefix-scan (no single-task ORDER BY window).
  private val q58 = Q("q58_seq_pack",
    (s, dir) => Pack.packByTokenBudget(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        TF.tokenCount(col("text")), "doc_id", budget = 2048)
      .select(col("doc_id"), col("n_tokens"), col("tok_offset"),
        col("seq_first"), col("seq_last"), col("spans_boundary")),
    Some("""WITH t AS (
              SELECT doc_id,
                     CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                          x -> len(x) > 0)) AS BIGINT) AS n_tokens
              FROM documents),
            c AS (
              SELECT doc_id, n_tokens,
                     CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
              FROM t)
            SELECT doc_id, n_tokens, tok_offset,
                   tok_offset // 2048 AS seq_first,
                   CASE WHEN n_tokens > 0 THEN (tok_offset + n_tokens - 1) // 2048
                        ELSE tok_offset // 2048 END AS seq_last,
                   (CASE WHEN n_tokens > 0 THEN (tok_offset + n_tokens - 1) // 2048
                         ELSE tok_offset // 2048 END) > (tok_offset // 2048) AS spans_boundary
            FROM c"""))

  // ---------------------------------------------------------------- q59
  // TF-IDF top-5 terms per document (explode -> tf hash-agg -> vocab df
  // -> size-adaptive join -> WindowGroupLimit top-k).
  private val q59 = Q("q59_tfidf",
    (s, dir) => Tfidf.topTerms(t(s, dir, "documents"), "text", "doc_id", k = 5),
    Some("""WITH tk AS (
              SELECT doc_id,
                     unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                        t -> len(t) > 0)) AS term
              FROM documents),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
            df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            n AS (SELECT count(*) AS n FROM documents),
            s AS (
              SELECT tf.doc_id, tf.term, tf.tf, df.df,
                     tf.tf * ln(CAST(n.n AS DOUBLE) / df.df) AS tfidf
              FROM tf JOIN df USING (term) CROSS JOIN n),
            r AS (
              SELECT *, row_number() OVER (PARTITION BY doc_id
                          ORDER BY tfidf DESC, term) AS rank
              FROM s)
            SELECT doc_id, term, tf, df, round(tfidf, 6) AS tfidf,
                   CAST(rank AS INT) AS rank
            FROM r WHERE rank <= 5"""))

  // ---------------------------------------------------------------- q61
  // In-text PII scrubbing (free-text twin of the column-level F14 masks):
  // count and redact emails/phones inside document bodies. PII is
  // injected deterministically into every 5th doc so the scrub has real
  // work; patterns stay in the Java-regex ∩ RE2 dialect so the DuckDB
  // oracle executes them verbatim. One codegen'd projection, no shuffle.
  private val q61 = Q("q61_pii_scrub",
    (s, dir) => {
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phoneRe = "\\+?[0-9][0-9 ()-]{7,}[0-9]"
      val d = t(s, dir, "documents").withColumn("text",
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" contact: user"), col("doc_id").cast("string"),
            lit("@example.com or +1 (555) 010-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(col("text")))
      d.select(col("doc_id"),
        regexp_count(col("text"), lit(emailRe)).cast(LongType).as("n_emails"),
        regexp_count(col("text"), lit(phoneRe)).cast(LongType).as("n_phones"),
        md5(regexp_replace(regexp_replace(col("text"), emailRe, "[EMAIL]"),
          phoneRe, "[PHONE]")).as("scrubbed_md5"))
    },
    Some("""WITH d AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 5 = 0
                          THEN text || ' contact: user' || CAST(doc_id AS VARCHAR)
                               || '@example.com or +1 (555) 010-'
                               || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                          ELSE text END AS text
              FROM documents)
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
                   CAST(len(regexp_extract_all(text, '\+?[0-9][0-9 ()-]{7,}[0-9]')) AS BIGINT) AS n_phones,
                   md5(regexp_replace(regexp_replace(text,
                         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                       '\+?[0-9][0-9 ()-]{7,}[0-9]', '[PHONE]', 'g')) AS scrubbed_md5
            FROM d"""))

  // ---------------------------------------------------------------- q62
  // Near-dup pairs -> duplicate GROUPS: min-label-propagation connected
  // components over the (bounded, oracle-expressible) jaccard pair set.
  // The oracle computes the same components with a recursive CTE.
  private val q62 = Q("q62_dup_components",
    (s, dir) => {
      Components.labelPropagate(slicePairs(dupSlice(s, dir)), "id_a", "id_b")
        .select(col("id").as("doc_id"), col("comp").as("component"))
    },
    Some(s"""WITH RECURSIVE
            ${sliceShingleCtes()},
            $slicePairReachCtes
            SELECT a AS doc_id, least(a, min(b)) AS component
            FROM reach GROUP BY a"""))

  // ---------------------------------------------------------------- q63
  // End-to-end keep-one dedup: near-dup PAIRS -> connected components ->
  // drop everything but each component's min-id representative. Same
  // bounded jaccard pair set (and recursive-CTE oracle) as q62, plus the
  // survivor anti-join.
  private val q63 = Q("q63_dedup_keep_one",
    (s, dir) => {
      val docs = dupSlice(s, dir)
      Components.dedupByComponents(docs, "doc_id", slicePairs(docs), "id_a", "id_b")
        .select(col("doc_id"), col("n_chars"))
    },
    Some(s"""WITH RECURSIVE
            ${sliceShingleCtes(", n_chars")},
            $slicePairReachCtes,
            losers AS (
              SELECT a AS doc_id FROM reach GROUP BY a
              HAVING least(a, min(b)) <> a)
            SELECT doc_id, n_chars FROM d
            WHERE doc_id NOT IN (SELECT doc_id FROM losers)"""))

  // ---------------------------------------------------------------- q64
  // Gopher-style quality rule bundle: word count bounds, mean word
  // length window, stopword presence, within-doc repetition — each signal
  // emitted, plus the conjunction verdict (thresholds sit inside this
  // corpus's observed spread so both outcomes occur).
  private val q64 = Q("q64_gopher_rules",
    // Spread: meanTokenLen's per-token fold is an interpreted HOF —
    // single-split scans serialize it (PlanAuditSpec rule 4)
    (s, dir) => Spread.toCores(t(s, dir, "documents"))
      .select(col("doc_id"),
        TF.tokenCount(col("text")).as("n_words"),
        round(TF.meanTokenLen(col("text")), 6).as("mean_word_len"),
        TF.stopwordHits(col("text")).as("stop_hits"),
        round(TF.dupNgramFraction(col("text"), 2), 6).as("dup_bigram_frac"))
      // second Project on the rounded columns: the heavy expressions are
      // evaluated once per row (CollapseProject refuses to duplicate
      // non-cheap expressions), same trick as q54
      .withColumn("passes",
        col("n_words").between(30L, 5000L) &&
          col("mean_word_len").between(4.0, 5.0) &&
          col("stop_hits") >= 1L &&
          col("dup_bigram_frac") < 0.05),
    Some("WITH " + tokensCte("documents") + """,
            f AS (
              SELECT doc_id,
                     CAST(len(tk) AS BIGINT) AS n_words,
                     round(CASE WHEN len(tk) > 0 THEN
                         CAST(list_sum(list_transform(tk, t -> len(t))) AS DOUBLE) / len(tk)
                       ELSE 0.0 END, 6) AS mean_word_len,
                     CAST(len(list_filter(tk, t -> list_contains(['the','and','of','to','a','in','is','that','it','for'], t))) AS BIGINT) AS stop_hits,
                     round(CASE WHEN len(tk) < 2 THEN 0.0
                          ELSE 1.0 - CAST(len(list_distinct(list_transform(
                                 range(1, len(tk)),
                                 i -> tk[i] || ' ' || tk[i + 1]))) AS DOUBLE)
                               / (len(tk) - 1) END, 6) AS dup_bigram_frac
              FROM tk)
            SELECT doc_id, n_words, mean_word_len, stop_hits, dup_bigram_frac,
                   (n_words BETWEEN 30 AND 5000)
                     AND (mean_word_len BETWEEN 4.0 AND 5.0)
                     AND stop_hits >= 1 AND dup_bigram_frac < 0.05 AS passes
            FROM f"""))

  // ---------------------------------------------------------------- q65
  // Cross-document duplicated n-gram coverage (corpus-level repetition —
  // the no-line-structure analogue of RefinedWeb line dedup): per doc,
  // the fraction of its distinct word 5-grams with doc frequency >= 2.
  private val q65 = Q("q65_crossdoc_dup_grams",
    (s, dir) => TextDedup.crossDocDupGrams(docsWithDups(s, dir),
      "text", "doc_id", n = 5),
    Some("WITH " + dupDocsCte + ",\n            " + tokensCte("d") + """,
            g AS (
              SELECT doc_id, unnest(list_distinct(list_transform(
                       range(1, greatest(len(tk) - 4, 1) + 1),
                       i -> array_to_string(tk[i:i+4], ' ')))) AS gram
              FROM tk),
            c AS (SELECT gram, count(*) AS df FROM g GROUP BY gram)
            SELECT doc_id, count(*) AS n_grams,
                   round(CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                         / count(*), 6) AS dup_gram_frac
            FROM g JOIN c USING (gram) GROUP BY doc_id"""))

  // ---------------------------------------------------------------- q72
  // Keep-one dedup AT SCALE: the composition a 100 TB pipeline actually
  // runs — full documents table -> MinHash+LSH candidate pairs (banded
  // equi-join, bucket cap, estimate prefilter, exact-Jaccard verify) ->
  // connected components -> drop all but each component's min-id doc.
  // Unlike q63 (bounded brute-force pairs), nothing here is quadratic.
  // Oracle-mode hashing makes every stage SQL-reproducible; the oracle
  // rebuilds the pair set and resolves components with a recursive CTE.
  private val q72 = Q("q72_dedup_at_scale",
    (s, dir) => {
      val docs = docsWithDups(s, dir)
      val pairs = minHashPairs(docs)
      Components.dedupByComponents(docs, "doc_id", pairs, "id_a", "id_b")
        .select(col("doc_id"), col("n_chars"))
    },
    Some(s"""${SketchSql.nearDupReachCtes("pairs")},
            losers AS (
              SELECT a AS doc_id FROM reach GROUP BY a
              HAVING least(a, min(b)) <> a)
            SELECT doc_id, n_chars FROM d
            WHERE doc_id NOT IN (SELECT doc_id FROM losers)"""))

  // ---------------------------------------------------------------- q69
  // RAG chunking: fixed 64-token windows, 16-token overlap (stride 48) —
  // map-only generator plan, no shuffle; chunk ids derived per doc.
  private val q69 = Q("q69_chunks",
    (s, dir) => Chunk.tokenChunks(t(s, dir, "documents"),
      "text", "doc_id", chunkSize = 64, overlap = 16),
    Some("WITH " + tokensCte("documents") + """,
            st AS (
              SELECT doc_id, tk,
                     unnest(range(1, greatest(len(tk) - 16, 1) + 1, 48)) AS s
              FROM tk)
            SELECT doc_id, CAST((s - 1) // 48 AS BIGINT) AS chunk_id,
                   CAST(len(tk[s:s+63]) AS BIGINT) AS n_tokens,
                   array_to_string(tk[s:s+63], ' ') AS chunk_text
            FROM st"""))

  // ---------------------------------------------------------------- q76
  // Line-level dedup (the CCNet/RefinedWeb boilerplate strip). The test
  // corpus has no newlines, so lines are synthesized as 6-word chunks —
  // the multi-line shape a web corpus carries — then corpus-repeated
  // lines are stripped with per-doc line order preserved. Duplicated
  // docs get hollowed out (every line repeats); unique docs keep all
  // lines except cross-doc boilerplate collisions.
  private val q76 = Q("q76_strip_dup_lines",
    (s, dir) => {
      val words = split(col("text"), " ")
      // Column./ is double division — cast back for the int sequence bound
      val nch = ((size(words) + 5) / 6).cast(IntegerType)
      val multi = docsWithDups(s, dir).select(col("doc_id"),
        concat_ws("\n", transform(sequence(lit(0), nch - 1),
          i => array_join(slice(words, i * lit(6) + 1, lit(6)), " "))).as("text"))
      TextDedup.stripDupLines(multi, "text", "doc_id", minCount = 2L)
    },
    Some("WITH " + dupDocsCte + """,
            w AS (SELECT doc_id, string_split(text, ' ') AS words FROM d),
            c AS (SELECT doc_id,
                         list_transform(range((len(words) + 5) // 6),
                           i -> array_to_string(words[i*6+1 : i*6+6], ' ')) AS lines
                  FROM w),
            u AS (SELECT doc_id, UNNEST(range(len(lines))) AS i, lines FROM c),
            ln AS (SELECT doc_id, i, lines[i+1] AS line FROM u),
            cnt AS (SELECT doc_id, i, line,
                           count(*) OVER (PARTITION BY line) >= 2
                             AND length(trim(line)) > 0 AS dropd
                    FROM ln)
            SELECT doc_id,
              CAST(count(*) AS BIGINT) AS n_lines,
              CAST(sum(CASE WHEN dropd THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
              coalesce(string_agg(CASE WHEN NOT dropd THEN line END,
                chr(10) ORDER BY i), '') AS text_clean
            FROM cnt GROUP BY doc_id"""))

  // ---------------------------------------------------------------- q77
  // Source balancing: cap every source at 15 docs, chosen by md5-hash
  // order of the id — a seedless uniform quota that re-runs, backfills,
  // and other engines reproduce exactly. WindowGroupLimit prunes to
  // <= 40 rows per source per input partition BEFORE the shuffle.
  private val q77 = Q("q77_source_cap",
    (s, dir) => graft.operators.Split.capPerGroup(
      t(s, dir, "documents").select(col("doc_id"), col("source")),
      col("source"), col("doc_id"), n = 15),
    Some("""SELECT doc_id, source FROM (
              SELECT doc_id, source,
                     row_number() OVER (PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
              FROM documents)
            WHERE rn <= 15"""))

  // ---------------------------------------------------------------- q78
  // CCNet-style bigram-LM perplexity filter: train a Laplace-smoothed
  // bigram model on the corpus, score each doc by mean token
  // log-probability, and flag the worst decile (exact interpolated p10
  // cutoff) for dropping. Log-probs are 12dp-rounded and DECIMAL-summed
  // so the per-doc aggregate is partition-order-independent — that is
  // what lets DuckDB replay the whole pipeline hash-for-hash.
  private val q78 = Q("q78_bigram_lm",
    (s, dir) => NgramLM.selfPerplexityFilter(t(s, dir, "documents"),
      "text", "doc_id", tailFraction = 0.1),
    Some("WITH " + tokensCte("documents") + """,
            bg AS (
              SELECT doc_id, unnest(CASE WHEN len(tk) >= 2 THEN
                       list_transform(range(1, len(tk)),
                                      i -> tk[i] || ' ' || tk[i + 1])
                     ELSE [] END) AS gram
              FROM tk),
            occ AS (SELECT doc_id, gram, string_split(gram, ' ')[1] AS w1 FROM bg),
            c12 AS (SELECT gram, count(*) AS c12 FROM bg GROUP BY gram),
            c1 AS (SELECT string_split(gram, ' ')[1] AS w1, count(*) AS c1
                   FROM bg GROUP BY 1),
            v AS (SELECT count(DISTINCT tok) AS v
                  FROM (SELECT unnest(tk) AS tok FROM tk)),
            sc AS (
              SELECT occ.doc_id,
                     CAST(count(*) AS BIGINT) AS n_bigrams,
                     round_even(CAST(sum(CAST(round(ln(
                         CAST(coalesce(c12.c12, 0) + 1 AS DOUBLE)
                           / (coalesce(c1.c1, 0) + v.v)), 12)
                       AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6)
                       AS avg_logprob
              FROM occ
              LEFT JOIN c12 USING (gram)
              LEFT JOIN c1 USING (w1)
              CROSS JOIN v
              GROUP BY occ.doc_id),
            cut AS (SELECT quantile_cont(avg_logprob, 0.1) AS cutoff FROM sc)
            SELECT d.doc_id,
                   coalesce(sc.n_bigrams, 0) AS n_bigrams,
                   sc.avg_logprob,
                   round_even(cut.cutoff, 6) AS cutoff,
                   sc.avg_logprob > cut.cutoff AS keep
            FROM documents d
            LEFT JOIN sc USING (doc_id)
            CROSS JOIN cut"""))

  // ------------------------------------------------ IVF oracle fragments
  // The pinned-codebook IVF replay: q44/q98 in Queries, the SemDeDup
  // (q80/q99), kNN-graph (q106, q172-q174), cell-balance (q111), recall
  // (q128) and IVF-PQ (q131 family, q136) oracles here. They live in
  // QueriesText because StreamHarness can initialize this object before
  // Queries, and a Queries reference from here would then start Queries
  // while QueriesText.all is still unset.

  /** The first `n` embeddings, unit-normalized, as a pinned codebook: a
    * bounded driver hop in vec_id order (the Scala side of
    * [[unitCodebookCte]]). */
  private[graft] def unitCodebook(e: DataFrame, n: Int): Array[Array[Double]] =
    e.filter(col("vec_id") < n).orderBy("vec_id")
      .select(graft.functions.VectorFunctions.normalize(col("embedding")).as("v"))
      .collect().map(_.getSeq[Double](0).toArray)

  /** `cb`: the unit-normalized codebook (cell = vec_id + 1) over the
    * embeddings rows `src` keeps. */
  private def unitCodebookCte(src: String): String =
    s"""cb AS (
              SELECT vec_id + 1 AS ci,
                     CASE WHEN n = 0 THEN vd ELSE list_transform(vd, x -> x / n) END AS cv
              FROM (SELECT vec_id,
                           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd,
                           sqrt(list_sum(list_transform(embedding,
                             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS n
                    FROM $src))"""

  /** `ev`: the vectors of `src` (plus `cols`) with their squared norms. */
  private[graft] def evCte(src: String = "embeddings", cols: String = ""): String =
    s"""ev AS (
              SELECT vec_id, embedding$cols,
                     list_sum(list_transform(embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nv
              FROM $src)"""

  /** `cb`, `ev` and `dots`: every vector's cosine to every cell. */
  private[graft] def ivfDotsCtes(cbSrc: String, evSrc: String = "embeddings",
                                 evCols: String = ""): String =
    unitCodebookCte(cbSrc) + ",\n            " + evCte(evSrc, evCols) + """,
            dots AS (
              SELECT ev.vec_id, cb.ci,
                     list_sum(list_transform(range(1, 65),
                       i -> CAST(ev.embedding[i] AS DOUBLE) * cb.cv[i])) *
                     (CASE WHEN ev.nv = 0 THEN 0.0 ELSE 1.0 / sqrt(ev.nv) END) AS dp
              FROM ev CROSS JOIN cb)"""

  /** `cells`: each vector's home cell (argmax over `dots`, ties to the
    * lower cell). */
  private lazy val homeCellCte: String = """cells AS (
              SELECT vec_id, ci AS cell FROM (
                SELECT vec_id, ci, row_number() OVER (PARTITION BY vec_id
                         ORDER BY dp DESC, ci) AS rn
                FROM dots)
              WHERE rn = 1)"""

  /** `ranked`: each vector's cells by cosine. */
  private lazy val rankedCte: String = """ranked AS (
              SELECT vec_id, ci, row_number() OVER (PARTITION BY vec_id
                       ORDER BY dp DESC, ci) AS rn
              FROM dots)"""

  /** `ranked` and `ccell` (each corpus vector's home cell). */
  private lazy val ivfRankCtes: String = rankedCte + """,
            ccell AS (SELECT vec_id AS neighbor_id, ci AS cell FROM ranked WHERE rn = 1)"""

  /** `name`: the exact cosine of every probed (query, neighbor) pair of
    * `qcell` x `ccell`, carrying `keys` (a `q.`-prefixed column list
    * ending in a comma) from `qcell`. */
  private[graft] def probeCosCte(name: String, keys: String = ""): String =
    s"""$name AS (
              SELECT ${keys}q.query_id, c.neighbor_id,
                     list_sum(list_transform(range(1, 65),
                       i -> CAST(qe.embedding[i] AS DOUBLE) * CAST(ce.embedding[i] AS DOUBLE))) /
                     (sqrt(qe.nv) * sqrt(ce.nv)) AS cos
              FROM qcell q
              JOIN ccell c USING (cell)
              JOIN ev qe ON qe.vec_id = q.query_id
              JOIN ev ce ON ce.vec_id = c.neighbor_id
              WHERE q.query_id <> c.neighbor_id)"""

  /** `r`: the (query, neighbor, cos) rows of `src` ranked per query by
    * cosine, ties to the lower neighbor id. */
  private[graft] def cosRankCte(src: String): String =
    s"""r AS (
              SELECT query_id, neighbor_id, cos,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY cos DESC, neighbor_id) AS rn
              FROM $src)"""

  /** The top-3 (query, neighbor, cosine, rank) rows of `r`. */
  private[graft] lazy val cosTop3Select: String = """
            SELECT query_id, neighbor_id, round(cos, 6) AS cosine,
                   CAST(rn AS INT) AS rank
            FROM r WHERE rn <= 3"""

  /** `ranked`, `ccell`, `qcell` (the queries `qcellWhere` keeps, with
    * their probed cells), the probe cosines `sc` and their rank `r`. */
  private[graft] def ivfProbeCtes(qcellWhere: String, sc: String = "sc"): String =
    ivfRankCtes + s""",
            qcell AS (SELECT vec_id AS query_id, ci AS cell FROM ranked WHERE $qcellWhere),
            """ + probeCosCte(sc) + ",\n            " + cosRankCte(sc)

  // ---------------------------------------------------------------- q80
  // SemDeDup with the codebook size DERIVED from the corpus
  // (Similarity.autoNlist at targetCellSize = 8 — a second operating
  // point alongside q99's 16, so the derivation is gated at two mean
  // cell populations). Cells ∝ corpus keeps the within-cell quadratic
  // term bounded, so EVERY registered SemDeDup query is now the scale
  // path; the historical pinned-16-cell form (cell population grows
  // with the corpus — measured 13.4x wall on a 10x corpus vs 1.6x
  // scaled) survives only as the ScaleStress `semdedup_nlist16`
  // harness exhibit and the TextDedupSpec semDedup fixtures.
  // Near-identical vectors (perturbed copies, cosine ~0.998) land in the
  // same cell, pair up under the within-cell cosine, and the min-id
  // representative survives. The oracle replays the nlist derivation,
  // cell argmax, in-cell pairs, and the component resolution
  // (recursive CTE) exactly.
  private val q80 = Q("q80_semdedup",
    (s, dir) => semDedupAuto(s, dir, targetCellSize = 8),
    Some(semDedupOracle(targetCellSize = 8)))

  /** SemDeDup over the corpus plus perturbed copies of every 20th
    * vector, with the codebook size derived at `targetCellSize` (q80,
    * q99). */
  private def semDedupAuto(s: SparkSession, dir: String,
                           targetCellSize: Int): DataFrame = {
    val e = t(s, dir, "embeddings")
    val corp = perturbedCorpus(e)
    val nlist = Similarity.autoNlist(corp.count(), targetCellSize)
    Similarity.semDedup(corp, "vec_id", "embedding", unitCodebook(e, nlist),
        threshold = 0.9)
      .select(col("vec_id"), col("label"), col("cell"))
  }

  /** [[semDedupAuto]]'s oracle: the nlist derivation, cell argmax,
    * in-cell pairs and the component resolution (recursive CTE). */
  private def semDedupOracle(targetCellSize: Int): String =
    s"""WITH RECURSIVE ${perturbedCorpusCte(", label")},
            ${autoIvfDotsCtes(targetCellSize, "corp", ", label")},
            $homeCellCte,
            pairs AS (
              SELECT a.vec_id AS id_a, b2.vec_id AS id_b
              FROM cells a
              JOIN cells b2 ON a.cell = b2.cell AND a.vec_id < b2.vec_id
              JOIN corp ea ON ea.vec_id = a.vec_id
              JOIN corp eb ON eb.vec_id = b2.vec_id
              WHERE ${PlaneSql.cosSql("ea.embedding", "eb.embedding")} >= 0.9),
            e2 AS (SELECT id_a AS a, id_b AS b FROM pairs
                   UNION SELECT id_b, id_a FROM pairs),
            reach(a, b) AS (
              SELECT a, b FROM e2
              UNION
              SELECT r.a, e2.b FROM reach r JOIN e2 ON r.b = e2.a),
            losers AS (
              SELECT a AS vec_id FROM reach GROUP BY a
              HAVING least(a, min(b)) <> a)
            SELECT c.vec_id, c.label, CAST(cells.cell AS INTEGER) AS cell
            FROM corp c JOIN cells USING (vec_id)
            WHERE c.vec_id NOT IN (SELECT vec_id FROM losers)"""

  /** `params` (the autoNlist codebook size of `src` at
    * `targetCellSize`) and [[ivfDotsCtes]] over the first `nlist`
    * embeddings and the vectors of `src`. */
  private def autoIvfDotsCtes(targetCellSize: Int, src: String = "embeddings",
                              evCols: String = ""): String =
    s"""params AS (
              SELECT greatest(16, CAST(ceil(count(*) / $targetCellSize.0) AS BIGINT)) AS nlist
              FROM $src),
            """ + ivfDotsCtes("embeddings, params WHERE vec_id < nlist", src, evCols)

  /** [[unitCodebook]] at the autoNlist size of `e` (q106, q111, q172-q174). */
  private def autoCodebook(e: DataFrame, targetCellSize: Int): Array[Array[Double]] =
    unitCodebook(e, Similarity.autoNlist(e.count(), targetCellSize))

  // ---------------------------------------------------------------- q100
  // Modern-web media formats through the same header-decode gate as
  // q42/q97: WEBP in all three first-chunk flavors (lossy VP8 sync +
  // 14-bit dims, lossless VP8L packed u32, extended VP8X u24 canvas) and
  // MP3 (ID3v2 skip + MPEG1 Layer III frame header + CBR duration
  // estimate). The oracle recomputes every decoded field from the id
  // arithmetic the shim embeds — a parser that misreads a bit-packed
  // field or the syncsafe tag size hash-mismatches.
  private val q100 = Q("q100_webp_mp3",
    (s, dir) => {
      import graft.multimodal.Multimodal
      val media = Multimodal.asModernMedia(
        t(s, dir, "documents"), "doc_id", "text")
      media
        .withColumn("img", Multimodal.decodeHeader(col("payload")))
        .withColumn("av", Multimodal.decodeAvHeader(col("payload")))
        .select(col("media_id"), col("media_type"),
          coalesce(col("img.format"), col("av.format")).as("format"),
          col("img.width").as("width"), col("img.height").as("height"),
          col("av.channels").as("channels"),
          col("av.sample_rate").as("sample_rate"),
          col("av.duration_ms").as("duration_ms"))
    },
    Some("""WITH d AS (
              SELECT doc_id, octet_length(encode(text)) AS blen FROM documents)
            SELECT doc_id AS media_id,
                   CASE WHEN doc_id % 4 = 3 THEN 'audio/mpeg'
                        ELSE 'image/webp' END AS media_type,
                   CASE WHEN doc_id % 4 = 3 THEN 'mp3' ELSE 'webp' END AS format,
                   CASE WHEN doc_id % 4 < 3
                        THEN CAST(doc_id % 1920 + 1 AS INT) END AS width,
                   CASE WHEN doc_id % 4 < 3
                        THEN CAST(doc_id % 1080 + 1 AS INT) END AS height,
                   CASE WHEN doc_id % 4 = 3
                        THEN CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS INT)
                   END AS channels,
                   CASE WHEN doc_id % 4 = 3
                        THEN CAST([44100, 48000, 32000][CAST(doc_id % 3 AS INT) + 1] AS INT)
                   END AS sample_rate,
                   CASE WHEN doc_id % 4 = 3
                        THEN CAST((blen + 4) * 8 //
                          [32,40,48,56,64,80,96,112,128,160,192,224,256,320]
                            [CAST(doc_id % 14 AS INT) + 1] AS BIGINT)
                   END AS duration_ms
            FROM d"""))

  // ---------------------------------------------------------------- q101
  // Count-Min heavy hitters: the CMS register table (4 x 1024 integer
  // counters, mergeable by addition) is built in one hash agg over the
  // token stream; the exact top-20 terms then probe it and the min-over-
  // depth estimate rides out next to the true count. Everything is
  // md5 + integer arithmetic, so the oracle reproduces the REGISTERS and
  // the estimates exactly — and the CMS one-sided bound (est >= exact)
  // is hash-verified rather than asserted.
  private def cmsBucketSql(h: String): String = {
    val digits = (1 to 12).map(i =>
      s"(strpos('0123456789abcdef', substr($h, $i, 1)) - 1) * ${java.lang.Long.toString(1L << (4 * (12 - i)))}")
    s"(${digits.mkString(" + ")}) % 1024"
  }

  private val q101 = Q("q101_cms_heavy_hitters",
    (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
        .filter(length(col("term")) > 0)
      val regs = Sketches.cmsRegisters(toks, col("term"), Nil)
      val top = toks.groupBy("term").agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("term")).limit(20)
      Sketches.cmsEstimate(regs, top, "term", Nil)
        .select(col("term"), col("exact_n"), col("est_count").as("est_n"))
    },
    Some(s"""WITH toks AS (
              SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                            t -> len(t) > 0)) AS term
              FROM documents),
            top_terms AS (
              SELECT term, count(*) AS exact_n FROM toks
              GROUP BY term ORDER BY exact_n DESC, term LIMIT 20),
            hashed AS (
              SELECT d.d, md5(CAST(d.d AS VARCHAR) || ':' || term) AS h
              FROM toks CROSS JOIN range(4) AS d(d)),
            regs AS (
              SELECT d, ${cmsBucketSql("h")} AS bucket, count(*) AS n
              FROM hashed GROUP BY 1, 2),
            probe AS (
              SELECT t.term, t.exact_n, d.d,
                     ${cmsBucketSql(s"md5(CAST(d.d AS VARCHAR) || ':' || t.term)")} AS bucket
              FROM top_terms t CROSS JOIN range(4) AS d(d))
            SELECT p.term, p.exact_n,
                   CAST(min(coalesce(r.n, 0)) AS BIGINT) AS est_n
            FROM probe p LEFT JOIN regs r ON p.d = r.d AND p.bucket = r.bucket
            GROUP BY p.term, p.exact_n"""))

  /** Lloyd centroid update `l<r>`, `n<r>`, `c<r>`: the per-cell integer
    * sums `s<r>` (cell, i, sq) as a list, normalized; a cell with no
    * members keeps its `c<r-1>` centroid (q98, q104). */
  private[graft] def centroidUpdateCtes(r: Int): String =
    s"""l$r AS (SELECT cell, list(CAST(sq AS DOUBLE) ORDER BY i) AS sl
                   FROM s$r GROUP BY cell),
            n$r AS (SELECT cell, sl,
                          sqrt(list_sum(list_transform(sl, x -> x * x))) AS nn
                   FROM l$r),
            c$r AS (SELECT p.cell,
                          COALESCE(CASE WHEN n.nn = 0 THEN n.sl
                                        ELSE list_transform(n.sl, x -> x / n.nn) END,
                                   p.cv) AS cv
                   FROM c${r - 1} p LEFT JOIN n$r n ON p.cell = n.cell)"""

  // ---------------------------------------------------------------- q104
  // Distributed k-means: TWO full-corpus spherical Lloyd's steps from a
  // deterministic 8-vector codebook. Assignment is the NearestCentroids
  // projection over every vector; the centroid update is an exact
  // integer aggregation of 1e-6-quantized normalized components
  // (partition-order-independent), normalized as a sum vector — the
  // oracle unrolls both iterations (assignment -> integer sums ->
  // normalize -> re-assignment -> sums -> normalize) and the final
  // centroids plus member counts hash-match component for component.
  private val q104 = Q("q104_kmeans_distributed",
    (s, dir) => {
      import s.implicits._
      val e = t(s, dir, "embeddings")
      val (c1, _) = Similarity.kmeansStepDistributed(e, "embedding",
        unitCodebook(e, 8))
      val (c2, n2) = Similarity.kmeansStepDistributed(e, "embedding", c1)
      val rows = for {
        c <- c2.indices
        d <- c2(c).indices
      } yield (c + 1, n2(c), d + 1, c2(c)(d))
      rows.toDF("cell", "n_members", "dim", "raw")
        .select(col("cell").cast(IntegerType), col("n_members"),
          col("dim").cast(IntegerType), bround(col("raw"), 6).as("value"))
    },
    Some(s"""WITH ev AS (
              SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd,
                     list_sum(list_transform(embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nv
              FROM embeddings),
            evn AS (
              SELECT vec_id, vd, nv,
                     list_transform(
                       CASE WHEN nv = 0 THEN vd
                            ELSE list_transform(vd, x -> x / sqrt(nv)) END,
                       x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS vq
              FROM ev),
            c0 AS (
              SELECT CAST(vec_id + 1 AS INT) AS cell,
                     CASE WHEN nv = 0 THEN vd
                          ELSE list_transform(vd, x -> x / sqrt(nv)) END AS cv
              FROM ev WHERE vec_id < 8),
            d1 AS (SELECT e.vec_id, c.cell,
                          list_sum(list_transform(range(1, 65),
                            i -> e.vd[i] * c.cv[i])) *
                          (CASE WHEN e.nv = 0 THEN 0.0
                                ELSE 1.0 / sqrt(e.nv) END) AS dp
                   FROM ev e CROSS JOIN c0 c),
            a1 AS (SELECT vec_id, cell FROM
                    (SELECT vec_id, cell, row_number() OVER
                       (PARTITION BY vec_id ORDER BY dp DESC, cell) AS rn FROM d1)
                   WHERE rn = 1),
            s1 AS (SELECT a.cell, t.i, sum(e.vq[t.i]) AS sq
                   FROM a1 a JOIN evn e USING (vec_id), range(1, 65) t(i)
                   GROUP BY a.cell, t.i),
            ${centroidUpdateCtes(1)},
            d2 AS (SELECT e.vec_id, c.cell,
                          list_sum(list_transform(range(1, 65),
                            i -> e.vd[i] * c.cv[i])) *
                          (CASE WHEN e.nv = 0 THEN 0.0
                                ELSE 1.0 / sqrt(e.nv) END) AS dp
                   FROM ev e CROSS JOIN c1 c),
            a2 AS (SELECT vec_id, cell FROM
                    (SELECT vec_id, cell, row_number() OVER
                       (PARTITION BY vec_id ORDER BY dp DESC, cell) AS rn FROM d2)
                   WHERE rn = 1),
            cnt2 AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_members
                     FROM a2 GROUP BY cell),
            s2 AS (SELECT a.cell, t.i, sum(e.vq[t.i]) AS sq
                   FROM a2 a JOIN evn e USING (vec_id), range(1, 65) t(i)
                   GROUP BY a.cell, t.i),
            ${centroidUpdateCtes(2)}
            SELECT c2.cell,
                   COALESCE(cnt2.n_members, 0) AS n_members,
                   CAST(t.i AS INT) AS dim,
                   round(c2.cv[t.i], 6) AS value
            FROM c2 LEFT JOIN cnt2 USING (cell), range(1, 65) t(i)"""))

  // ---------------------------------------------------------------- q102
  // Grouped CMS: per-source register tables (the sketch partitions by
  // the group key exactly like the data) probed by each source's exact
  // top-3 terms — the q101 flow through the groupCols path. Sources
  // sharing a term hash it to the SAME (depth, bucket), so the gate
  // also proves group isolation: collisions only ever come from the
  // same source's tokens.
  private val q102 = Q("q102_cms_grouped",
    (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("source"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
        .filter(length(col("term")) > 0)
      val regs = Sketches.cmsRegisters(toks, col("term"), Seq("source"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("exact_n").desc, col("term"))
      val top = toks.groupBy("source", "term")
        .agg(count(lit(1)).as("exact_n"))
        .withColumn("rank", row_number().over(w).cast(IntegerType))
        .filter(col("rank") <= 3)
      Sketches.cmsEstimate(regs, top, "term", Seq("source"))
        .select(col("source"), col("rank"), col("term"), col("exact_n"),
          col("est_count").as("est_n"))
    },
    Some(s"""WITH toks AS (
              SELECT source,
                     unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                            t -> len(t) > 0)) AS term
              FROM documents),
            top_terms AS (
              SELECT source, term, exact_n, CAST(rank AS INT) AS rank FROM (
                SELECT source, term, count(*) AS exact_n,
                       row_number() OVER (PARTITION BY source
                         ORDER BY count(*) DESC, term) AS rank
                FROM toks GROUP BY source, term)
              WHERE rank <= 3),
            hashed AS (
              SELECT source, d.d, md5(CAST(d.d AS VARCHAR) || ':' || term) AS h
              FROM toks CROSS JOIN range(4) AS d(d)),
            regs AS (
              SELECT source, d, ${cmsBucketSql("h")} AS bucket, count(*) AS n
              FROM hashed GROUP BY 1, 2, 3),
            probe AS (
              SELECT t.source, t.term, t.exact_n, t.rank, d.d,
                     ${cmsBucketSql(s"md5(CAST(d.d AS VARCHAR) || ':' || t.term)")} AS bucket
              FROM top_terms t CROSS JOIN range(4) AS d(d))
            SELECT p.source, p.rank, p.term, p.exact_n,
                   CAST(min(coalesce(r.n, 0)) AS BIGINT) AS est_n
            FROM probe p LEFT JOIN regs r
              ON p.source = r.source AND p.d = r.d AND p.bucket = r.bucket
            GROUP BY p.source, p.rank, p.term, p.exact_n"""))

  // ---------------------------------------------------------------- q99
  // SemDeDup, the way it scales: same operator as q80 but the codebook
  // size is DERIVED from the corpus count (Similarity.autoNlist — cells
  // ∝ corpus at a target mean cell population), so the within-cell
  // quadratic term stays ~targetCellSize per row no matter how large
  // the corpus grows. At sf0.01 (525 corpus rows, target 16) this
  // derives nlist=33 — the oracle recomputes the same ceiling division
  // in SQL, so the gate covers the derivation itself, not just a pinned
  // codebook. This is the registered answer to q80's documented
  // fixed-nlist anti-pattern (13.4x vs 1.6x on the 10x ScaleStress).
  private val q99 = Q("q99_semdedup_auto",
    (s, dir) => semDedupAuto(s, dir, targetCellSize = 16),
    Some(semDedupOracle(targetCellSize = 16)))

  /** `tk` (each doc's token count) and `agg` (per-source doc and token
    * totals): the inventory the q81 and q121 mixture plans start from. */
  private lazy val mixtureInventoryCtes: String = """WITH tk AS (
              SELECT doc_id, source,
                     CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                          t -> len(t) > 0)) AS BIGINT) AS ntok
              FROM documents),
            agg AS (
              SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(ntok) AS BIGINT) AS n_tokens
              FROM tk GROUP BY source)"""

  /** `samp` (the docs the md5-bucket rule keeps at each source's `rate`)
    * and the plan report over `pl2` — q81 and q121. */
  private lazy val mixtureSampleSql: String = """samp AS (
              SELECT t.source, CAST(count(*) AS BIGINT) AS n_docs_sampled
              FROM tk t JOIN pl2 USING (source)
              WHERE (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
                  + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
                  + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
                  + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1)
                  < round(least(rate, 1.0) * 65536.0, 0)
              GROUP BY t.source)
            SELECT pl2.source, n_docs, n_tokens,
                   round_even(share, 6) AS target_share,
                   alloc_tokens,
                   round_even(rate, 6) AS rate,
                   CAST(ceil(rate) AS BIGINT) AS epochs,
                   coalesce(n_docs_sampled, 0) AS n_docs_sampled
            FROM pl2 LEFT JOIN samp USING (source)"""

  /** A mixture `plan` applied to `docs` and reported with its sampled
    * doc counts (q81, q121). */
  private def mixtureReport(docs: DataFrame, plan: DataFrame): DataFrame = {
    val sampled = Split.applyMixture(docs, "source", col("doc_id"), plan)
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs_sampled"))
    plan.join(sampled, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_tokens"),
        bround(col("target_share"), 6).as("target_share"),
        col("alloc_tokens"),
        bround(col("rate"), 6).as("rate"), col("epochs"),
        coalesce(col("n_docs_sampled"), lit(0L)).as("n_docs_sampled"))
  }

  // ---------------------------------------------------------------- q81
  // Token-budget mixture: each source srcN targets share (N+1)/210 of a
  // 60k-token budget — small-N sources upsample (epochs > 1), large-N
  // downsample (keep_fraction < 1). The plan is one hash aggregation;
  // applying it is one broadcast join + the md5-bucket filter. The
  // oracle derives the same shares arithmetically from the source name
  // and replays the bucket rule digit-for-digit.
  private val q81 = Q("q81_token_budget",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val shares = (0 until 20).map(i => s"src$i" -> (i + 1) / 210.0).toMap
      val plan = Split.mixturePlan(docs, "source",
        TF.tokenCount(col("text")), shares, budget = 60000L)
      mixtureReport(docs, plan)
    },
    Some(s"""$mixtureInventoryCtes,
            pl AS (
              SELECT *,
                     CAST(round(share * 60000, 0) AS BIGINT) AS alloc_tokens
              FROM (SELECT agg.*,
                      (CAST(substr(source, 4) AS INT) + 1) / 210.0 AS share
                    FROM agg)),
            pl2 AS (
              SELECT *, CAST(alloc_tokens AS DOUBLE) / n_tokens AS rate
              FROM pl),
            $mixtureSampleSql"""))

  // ---------------------------------------------------------------- q82
  // Unicode text repair (ftfy-lite): every doc gets web-corpus dirt
  // appended — a combining-acute sequence (NFC-composes to é), a
  // zero-width space, a BEL control — and normalizeUnicode must compose
  // the one and strip the others. Both engines implement spec-defined
  // NFC, so lengths and tails hash-match exactly. Map-only plan.
  private val q82 = Q("q82_normalize_text",
    (s, dir) => {
      val dirty = concat(col("text"),
        // explicit escapes: combining acute U+0301, ZWSP U+200B, BEL U+0007
        lit(" caf"), lit("e\u0301"), lit("\u200Bzw\u0007ctl"))
      t(s, dir, "documents").select(col("doc_id"),
        length(dirty).cast(LongType).as("n_raw"),
        length(graft.functions.CleanFunctions.normalizeUnicode(dirty))
          .cast(LongType).as("n_clean"),
        substring(graft.functions.CleanFunctions.normalizeUnicode(dirty),
          -12, 12).as("clean_tail"))
    },
    Some("""WITH d AS (
              SELECT doc_id,
                     text || ' caf' || 'e' || chr(769) ||
                       chr(8203) || 'zw' || chr(7) || 'ctl' AS dirty
              FROM documents),
            c AS (
              SELECT doc_id, dirty,
                     regexp_replace(nfc_normalize(dirty),
                       '[\x{200B}\x{200C}\x{200D}\x{FEFF}\x{00AD}]|[\x{0000}-\x{0008}\x{000B}\x{000C}\x{000E}-\x{001F}\x{007F}]',
                       '', 'g') AS clean
              FROM d)
            SELECT doc_id,
                   CAST(length(dirty) AS BIGINT) AS n_raw,
                   CAST(length(clean) AS BIGINT) AS n_clean,
                   right(clean, 12) AS clean_tail
            FROM c"""))

  // ---------------------------------------------------------------- q83
  // Incremental dedup: today's increment (re-sent docs + genuinely new
  // v2 revisions) against the full history. The Bloom stage prunes
  // definitely-new rows map-side and the exact probe settles false
  // positives, so the answer equals a plain anti-join — which is exactly
  // what the oracle computes (NOT IN over content keys). History rows
  // never shuffle.
  private val q83 = Q("q83_incremental_dedup",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val inc = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 20000000L).as("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 30000000L).as("doc_id"),
            concat(col("text"), lit(" v2")).as("text")))
      IncrementalDedup.newDocs(inc, docs, "text",
          expectedHistoryKeys = 1000L, fpp = 0.03)
        .select(col("doc_id"), length(col("text")).cast(LongType).as("n_chars"))
    },
    Some("""WITH inc AS (
              SELECT doc_id + 20000000 AS doc_id, text
              FROM documents WHERE doc_id % 7 = 0
              UNION ALL
              SELECT doc_id + 30000000, text || ' v2'
              FROM documents WHERE doc_id % 11 = 0)
            SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars
            FROM inc
            WHERE md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
              NOT IN (SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
                      FROM documents)"""))

  // ---------------------------------------------------------------- q84
  // Curriculum packing: order the corpus best-quality-first (composite
  // key = inverted quality + id tiebreak — a total order both engines
  // compute bit-identically) and pack it into 2048-token training
  // sequences. The global running offset is the distributed prefix scan
  // (q57/q58's shape), so "sort 100 TB by quality and concatenate" never
  // funnels through one task.
  private val q84 = Q("q84_curriculum_pack",
    (s, dir) => {
      val scored = t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          TF.qualityScore(col("text")).as("quality"))
      val keyed = scored.withColumn("_ckey",
        (lit(1000000L) - round(col("quality") * 1e6).cast(LongType))
          * 100000000L + col("doc_id"))
      Pack.packByTokenBudget(keyed, TF.tokenCount(col("text")), "_ckey",
          budget = 2048)
        .select(col("doc_id"), col("quality"), col("n_tokens"),
          col("tok_offset"), col("seq_first"), col("seq_last"))
    },
    Some("WITH " + qualityTokensCte + """,
            y AS (
              SELECT doc_id,
                     CAST(len(tk) AS BIGINT) AS n_tokens,
                     CAST(len(tk) AS DOUBLE) AS ntok, chars, punct,
                     CASE WHEN len(tk) > 0 THEN
                       CAST(len(list_filter(tk, t -> list_contains(['the','and','of','to','a','in','is','that','it','for'], t))) AS DOUBLE) / len(tk)
                     ELSE 0.0 END AS stopr
              FROM x),
            q AS (
              SELECT doc_id, n_tokens,
                     round(0.4 * least(ntok / 200.0, 1.0)
                         + 0.2 * (CASE WHEN ntok > 0 AND chars / ntok BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END)
                         + 0.2 * (1.0 - (CASE WHEN chars > 0 THEN least(punct / chars * 5.0, 1.0) ELSE 1.0 END))
                         + 0.2 * least(stopr * 5.0, 1.0), 6) AS quality
              FROM y),
            k AS (
              SELECT doc_id, quality, n_tokens,
                     (1000000 - CAST(round(quality * 1000000.0, 0) AS BIGINT))
                       * 100000000 + doc_id AS ckey
              FROM q),
            c AS (
              SELECT doc_id, quality, n_tokens,
                     CAST(coalesce(sum(n_tokens) OVER (ORDER BY ckey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
              FROM k)
            SELECT doc_id, quality, n_tokens, tok_offset,
                   tok_offset // 2048 AS seq_first,
                   CASE WHEN n_tokens > 0 THEN (tok_offset + n_tokens - 1) // 2048
                        ELSE tok_offset // 2048 END AS seq_last
            FROM c"""))

  // ---------------------------------------------------------------- q85
  // Materialized sequence packing: the actual 512-token training
  // sequences, not just the offsets (q58's twin that a loader consumes
  // directly). Global positions from the prefix scan; one token-level
  // Exchange keyed by sequence id, each group <= budget tokens.
  private val q85 = Q("q85_pack_sequences",
    (s, dir) => Pack.assembleSequences(
      t(s, dir, "documents").select(col("doc_id"), col("text")),
      "text", "doc_id", budget = 512),
    Some("WITH " + tokensCte("documents") + """,
            o AS (
              SELECT doc_id, tk,
                     CAST(coalesce(sum(len(tk)) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
              FROM tk),
            u AS (SELECT off, tk, UNNEST(range(len(tk))) AS i FROM o),
            p AS (SELECT off + i AS p, tk[i + 1] AS tok FROM u)
            SELECT p // 512 AS seq_id,
                   CAST(count(*) AS BIGINT) AS n_tokens,
                   string_agg(tok, ' ' ORDER BY p) AS seq_text
            FROM p GROUP BY 1"""))

  // ---------------------------------------------------------------- q88
  // Inverted index over the corpus: per term, exact document/term
  // frequencies plus a bounded postings preview (first 10 doc:tf pairs
  // by doc id). The cap bounds per-term aggregation STATE — a stopword
  // row carries 10 postings, not a corpus-sized list — while df and
  // total_tf stay exact; `truncated` makes the cut observable (same
  // contract as lshTopK's bucket cap).
  private val q88 = Q("q88_inverted_index",
    (s, dir) => Tfidf.invertedIndex(
      t(s, dir, "documents"), "text", "doc_id", maxPostings = 10),
    Some("WITH " + tokensCte("documents") + """,
            tf AS (
              SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
              FROM (SELECT doc_id, UNNEST(tk) AS term FROM tk)
              GROUP BY term, doc_id),
            r AS (
              SELECT term, doc_id, tf,
                     row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
              FROM tf)
            SELECT term,
                   CAST(count(*) AS BIGINT) AS df,
                   CAST(sum(tf) AS BIGINT) AS total_tf,
                   coalesce(string_agg(
                     CASE WHEN rn <= 10 THEN doc_id || ':' || tf END,
                     ' ' ORDER BY rn), '') AS postings,
                   max(rn) > 10 AS truncated
            FROM r GROUP BY term"""))

  // ---------------------------------------------------------------- q90
  // Vocabulary coverage curve (tokenizer prep): terms in frequency order
  // with cumulative share of all token occurrences. The running total is
  // the distributed prefix scan over an (inverted zero-padded freq |
  // term) key — no single-task global window; everything after the
  // corpus-collapsing hash agg runs on vocabulary-sized frames.
  private val q90 = Q("q90_vocab_coverage",
    (s, dir) => Tfidf.vocabCoverage(t(s, dir, "documents"), "text"),
    Some("""WITH tk AS (
              SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                 t -> len(t) > 0) AS tk
              FROM documents),
            f AS (
              SELECT term, CAST(count(*) AS BIGINT) AS freq
              FROM (SELECT UNNEST(tk) AS term FROM tk) GROUP BY term),
            k AS (
              SELECT term, freq,
                     lpad(CAST(999999999999 - freq AS VARCHAR), 12, '0')
                       || '|' || term AS ckey
              FROM f),
            c AS (
              SELECT term, freq,
                     CAST(coalesce(sum(freq) OVER (ORDER BY ckey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS BIGINT) + freq AS cumfreq
              FROM k)
            SELECT term, freq,
                   round(CAST(cumfreq AS DOUBLE)
                         / (SELECT CAST(sum(freq) AS DOUBLE) FROM f), 6)
                     AS cum_share
            FROM c"""))

  // ---------------------------------------------------------------- q91
  // Keep-BEST dedup: same LSH candidate pipeline as q72, but the
  // component representative maximizes a quality score (min id breaks
  // ties) instead of being the min id — the "keep the highest-quality
  // copy" curation policy. Oracle resolves components with the same
  // recursive CTE, then picks arg-max(quality, -id) per component.
  private val q91 = Q("q91_dedup_keep_best",
    (s, dir) => {
      val docs = docsWithDups(s, dir)
        .withColumn("quality", TF.qualityScore(col("text")))
      val pairs = minHashPairs(docs)
      Components.dedupKeepBest(docs, "doc_id", "quality",
          pairs, "id_a", "id_b")
        .select(col("doc_id"), col("n_chars"))
    },
    Some(s"""${SketchSql.nearDupReachCtes("pairs")},
            comp AS (
              SELECT a AS doc_id, least(a, min(b)) AS comp
              FROM reach GROUP BY a),
            q AS (
              SELECT d.doc_id, comp.comp, ${SketchSql.qualitySql("d.text")} AS quality
              FROM d JOIN comp ON d.doc_id = comp.doc_id),
            win AS (
              SELECT comp, doc_id,
                     row_number() OVER (PARTITION BY comp
                       ORDER BY quality DESC, doc_id ASC) AS rn
              FROM q),
            losers AS (SELECT doc_id FROM win WHERE rn > 1)
            SELECT doc_id, n_chars FROM d
            WHERE doc_id NOT IN (SELECT doc_id FROM losers)"""))

  // ---------------------------------------------------------------- q94
  // Capstone: the END-TO-END corpus-prep pipeline as ONE lazy plan —
  // language filter -> quality filter -> exact content dedup ->
  // deterministic train split -> token accounting -> sequence packing.
  // Each stage is an operator already gated on its own (q25/q26/q29/
  // q53/q58); this proves they COMPOSE: the scalar stages fuse into one
  // codegen'd pass before the first shuffle, and the whole pipeline
  // costs two data-bounded Exchanges (dedup key + pack range).
  private val q94 = Q("q94_corpus_pipeline",
    (s, dir) => graft.pipelines.CorpusPipeline.prepare(
      t(s, dir, "documents"), "text", "doc_id",
      lang = "en", minQuality = 0.3, trainBuckets = 12, budget = 2048),
    Some("""WITH tk AS (
              SELECT doc_id, text,
                     list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                 t -> len(t) > 0) AS tk
              FROM documents),
            sc AS (
              SELECT doc_id, text, tk,
                len(list_filter(tk, t -> list_contains(['the','and','of','to','a','in','is','that','it','for'], t))) AS en,
                len(list_filter(tk, t -> list_contains(['el','la','de','que','y','en','un','los','se','por'], t))) AS es,
                len(list_filter(tk, t -> list_contains(['le','la','de','et','les','des','un','une','du','est'], t))) AS fr,
                len(list_filter(tk, t -> list_contains(['der','die','und','das','ist','von','den','mit','ein','zu'], t))) AS de,
                CAST(len(tk) AS DOUBLE) AS ntok,
                CAST(length(text) AS DOUBLE) AS chars,
                CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) AS punct,
                CASE WHEN len(tk) > 0 THEN
                  CAST(len(list_filter(tk, t -> list_contains(['the','and','of','to','a','in','is','that','it','for'], t))) AS DOUBLE) / len(tk)
                ELSE 0.0 END AS stopr
              FROM tk),
            q AS (
              SELECT doc_id, text, tk,
                     CASE WHEN greatest(en, es, fr, de) = 0 THEN 'und'
                          WHEN en >= es AND en >= fr AND en >= de THEN 'en'
                          WHEN es >= fr AND es >= de THEN 'es'
                          WHEN fr >= de THEN 'fr' ELSE 'de' END AS lang_guess,
                     round(0.4 * least(ntok / 200.0, 1.0)
                         + 0.2 * (CASE WHEN ntok > 0 AND chars / ntok BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END)
                         + 0.2 * (1.0 - (CASE WHEN chars > 0 THEN least(punct / chars * 5.0, 1.0) ELSE 1.0 END))
                         + 0.2 * least(stopr * 5.0, 1.0), 6) AS quality
              FROM sc),
            filt AS (
              SELECT doc_id, text, tk, quality FROM q
              WHERE lang_guess = 'en' AND quality >= 0.3),
            ded AS (
              SELECT doc_id, quality, tk FROM (
                SELECT doc_id, quality, tk,
                       row_number() OVER (PARTITION BY md5(text)
                                          ORDER BY doc_id) AS rn
                FROM filt) WHERE rn = 1),
            tr AS (
              SELECT doc_id, quality, CAST(len(tk) AS BIGINT) AS n_tokens
              FROM ded
              WHERE (strpos('0123456789abcdef',
                            substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) < 12),
            off AS (
              SELECT doc_id, quality, n_tokens,
                     CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS BIGINT) AS tok_offset
              FROM tr)
            SELECT doc_id, quality, n_tokens, tok_offset,
                   tok_offset // 2048 AS seq_first
            FROM off"""))

  // ---------------------------------------------------------------- q97
  // A/v multimodal plumbing: binary payloads carrying REAL WAV and MP4
  // container headers (variable-offset LIST chunk / free box, the q42
  // COM-segment trick), decoded back by the byte-level chunk/box walks
  // (graft.plans.AvMeta). The oracle derives every expected field
  // (channels, sample rate, bit depth, duration, track dims, payload
  // length) from the id arithmetic the shim embeds — a walk that
  // misreads one byte or mis-skips one chunk hash-mismatches.
  private val q97 = Q("q97_av_metadata",
    (s, dir) => {
      import graft.multimodal.Multimodal
      val media = Multimodal.asAvMedia(
        t(s, dir, "documents").filter(col("doc_id") < 150), "doc_id", "text")
      media.withColumn("meta", Multimodal.decodeAvHeader(col("payload")))
        .select(col("media_id"), col("media_type"),
          col("meta.format").as("format"),
          col("meta.channels").as("channels"),
          col("meta.sample_rate").as("sample_rate"),
          col("meta.bits").as("bits"),
          col("meta.duration_ms").as("duration_ms"),
          col("meta.width").as("width"),
          col("meta.height").as("height"),
          length(col("payload")).as("payload_bytes"))
    },
    Some("""WITH d AS (SELECT doc_id, octet_length(encode(text)) AS dl
                       FROM documents WHERE doc_id < 150)
            SELECT doc_id AS media_id,
              CASE WHEN doc_id % 2 = 0 THEN 'audio/wav' ELSE 'video/mp4' END AS media_type,
              CASE WHEN doc_id % 2 = 0 THEN 'wav' ELSE 'mp4' END AS format,
              CAST(CASE WHEN doc_id % 2 = 0 THEN (doc_id // 2) % 2 + 1 END AS INT) AS channels,
              CAST(CASE WHEN doc_id % 2 = 0 THEN 8000 + (doc_id % 5) * 8000 END AS INT) AS sample_rate,
              CAST(CASE WHEN doc_id % 2 = 0 THEN (doc_id % 3 + 1) * 8 END AS INT) AS bits,
              CAST(CASE WHEN doc_id % 2 = 0
                   THEN dl * 1000 // ((8000 + (doc_id % 5) * 8000)
                                      * ((doc_id // 2) % 2 + 1)
                                      * ((doc_id % 3 + 1) * 8) // 8)
                   ELSE (doc_id * 37) % 100000 + 1000 END AS BIGINT) AS duration_ms,
              CAST(CASE WHEN doc_id % 2 = 1 THEN doc_id % 1920 + 1 END AS INT) AS width,
              CAST(CASE WHEN doc_id % 2 = 1 THEN doc_id % 1080 + 1 END AS INT) AS height,
              CAST((CASE WHEN doc_id % 2 = 0 THEN 52 + (doc_id % 7 + 1) * 2
                         ELSE 240 + doc_id % 7 END) + dl AS INT) AS payload_bytes
            FROM d"""))

  // ---------------------------------------------------------------- q105
  // The real BPE tokenizer, gated end-to-end: BpeEncode over every
  // document with the DemoMerges table, output = exact token count plus
  // the full token stream (chr(31)-joined — any mis-merge anywhere in
  // the corpus flips the hash). The oracle replays the published apply
  // loop as a recursive CTE (see bpeRecSql), so the gate covers rank
  // priority, the merge-every-occurrence pass, multi-level merges, and
  // unknown-symbol fallthrough over real corpus text — not just the
  // hand-computed spec fixtures. Map-only on the Spark side: one
  // projection, zero Exchanges, the right shape for a 100 TB tokenize.
  private val q105 = Q("q105_bpe_tokenize",
    (s, dir) => {
      val toks = TF.bpeTokens(col("text"), TF.DemoMerges)
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(toks).cast(LongType).as("n_tokens"),
          array_join(toks, "\u001f").as("tokens_str"))
    },
    Some(s"""WITH RECURSIVE corpus AS (SELECT doc_id, text FROM documents),
            $bpeRecSql,
            agg AS (
              SELECT doc_id, CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
                     string_agg(list_aggregate(toks, 'string_agg', chr(31)),
                                chr(31) ORDER BY wi) AS tokens_str
              FROM tok GROUP BY doc_id)
            SELECT d.doc_id, coalesce(agg.n_tokens, 0) AS n_tokens,
                   coalesce(agg.tokens_str, '') AS tokens_str
            FROM corpus d LEFT JOIN agg USING (doc_id)"""))

  // ---------------------------------------------------------------- q106
  // kNN GRAPH: every corpus vector gets its top-3 ANN neighbors through
  // the IVF quantizer — the all-pairs shape (ANN graph construction for
  // dedup / clustering / retrieval eval) where NOTHING can broadcast:
  // probe and index sides are both the corpus, meeting in a hash join on
  // cell id. The codebook size is DERIVED (Similarity.autoNlist at
  // target cell 64 — per-cell join work stays ~64² no matter the
  // corpus), the q99 lesson applied from day one. The oracle recomputes
  // the derivation, every cell argmax, the nprobe probe sets, and the
  // global ranking — the two-phase Spark top-k (per-cell prune, then
  // per-query rank) is equivalent to the oracle's single global window
  // because a pair occurs in exactly one cell, a cell's top-k bounds its
  // global contribution, and ties break identically on
  // (cosine DESC, neighbor_id).
  private val q106 = Q("q106_knn_graph",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val cb = autoCodebook(e, 64)
      Similarity.knnGraph(e, "vec_id", "embedding", cb, k = 3, nprobe = 2)
    },
    Some(s"""WITH ${autoIvfDotsCtes(64)},
            ${ivfProbeCtes("rn <= 2")}""" + cosTop3Select))

  /** PQ codebooks (m = 8) pinned to the first 16 raw vectors' subvectors
    * (q107, q125). */
  private def pinnedPqCodebooks(e: DataFrame): Array[Array[Array[Double]]] =
    Pq.codebooks(e.filter(col("vec_id") < 16).orderBy("vec_id")
      .select(graft.functions.VectorFunctions.asDouble(col("embedding")).as("v"))
      .collect().map(_.getSeq[Double](0).toArray), m = 8)

  /** `cbs` ([[pinnedPqCodebooks]] in SQL) and `dists` (every vector's
    * squared distance to every codeword of every subspace). */
  private lazy val pqDistsCtes: String = """WITH cbs AS (
              SELECT s, vec_id + 1 AS c,
                     list_transform(range(1, 9),
                       i -> CAST(embedding[s * 8 + i] AS DOUBLE)) AS cw
              FROM embeddings, (SELECT unnest(range(8)) AS s)
              WHERE vec_id < 16),
            dists AS (
              SELECT e.vec_id, cb.s, cb.c,
                     list_sum(list_transform(range(1, 9),
                       i -> (CAST(e.embedding[cb.s * 8 + i] AS DOUBLE) - cb.cw[i]) *
                            (CAST(e.embedding[cb.s * 8 + i] AS DOUBLE) - cb.cw[i]))) AS d
              FROM embeddings e CROSS JOIN cbs cb)"""

  // ---------------------------------------------------------------- q107
  // Product quantization (Jégou et al. 2011): 64-dim float vectors
  // compress to 8 codes (32×), search runs over CODES with ADC table
  // lookups — the memory side of 100 TB ANN (the raw embeddings never
  // touch the probe scan). Codebooks are the pinned first-16 subvectors
  // (the q44 pretrained-quantizer split; PQ codebooks are
  // parameter-sized BY DESIGN — codes are scanned, not self-joined, so a
  // fixed ncode bounds resolution, not scalability). The oracle replays
  // subspace slicing, every argmin (first-min tie-break = row_number
  // ORDER BY d, c), the per-query distance tables, and the
  // subspace-ordered ADC sums — one flipped code anywhere in the
  // 500-vector index hash-mismatches.
  private val q107 = Q("q107_pq_topk",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val cbs = pinnedPqCodebooks(e)
      val codes = Pq.encode(e, "vec_id", "embedding", cbs)
      Pq.adcTopK(e.filter(col("vec_id") % 50 === 0), codes, "vec_id",
        "embedding", cbs, k = 3)
    },
    Some(pqDistsCtes + """,
            enc AS (
              SELECT vec_id, s, c AS code FROM (
                SELECT vec_id, s, c, row_number() OVER (PARTITION BY vec_id, s
                         ORDER BY d ASC, c) AS rn
                FROM dists)
              WHERE rn = 1),
            qd AS (SELECT vec_id AS query_id, s, c, d FROM dists
                   WHERE vec_id % 50 = 0),
            adc AS (
              SELECT q.query_id, n.vec_id AS neighbor_id,
                     list_sum(list(q.d ORDER BY q.s)) AS adist
              FROM enc n JOIN qd q ON q.s = n.s AND q.c = n.code
              WHERE q.query_id <> n.vec_id
              GROUP BY q.query_id, n.vec_id),
            r AS (
              SELECT query_id, neighbor_id, adist,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY adist ASC, neighbor_id) AS rn
              FROM adc)
            SELECT query_id, neighbor_id, round(adist, 6) AS adist,
                   CAST(rn AS INT) AS rank
            FROM r WHERE rn <= 3"""))

  // ---------------------------------------------------------------- q108
  // Hashed Naive Bayes classifier (the fastText-style learned gate):
  // trained ON THE ENGINE to predict lang='en' from md5-hashed token
  // buckets (train split doc_id % 10 <> 0), scored over every document.
  // Training state is bounded by the 512 buckets; weights quantize to
  // integer micro-units so per-doc sums are exact and order-free. The
  // oracle retrains the whole model in SQL — counts, add-1 smoothing,
  // quantized log-odds, prior — and rescores every doc; one miscounted
  // bucket anywhere flips the hash.
  private val q108 = Q("q108_nb_classifier",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val labeled = docs.withColumn("_is_en", col("lang") === "en")
      val model = TextClassifier.train(
        labeled.filter(col("doc_id") % 10 =!= 0), "text", "_is_en", buckets = 512)
      TextClassifier.score(docs, "doc_id", "text", model, buckets = 512)
        .join(docs.select(col("doc_id"), (col("lang") === "en").as("actual")),
          Seq("doc_id"))
        .select(col("doc_id"), col("score_micro"), col("predicted"), col("actual"))
    },
    Some("""WITH tok AS (
              SELECT doc_id, y,
                     ('0x' || substr(md5(t), 1, 8))::BIGINT % 512 AS bucket
              FROM (SELECT doc_id, lang = 'en' AS y, unnest(list_filter(
                      string_split_regex(lower(text), '[^a-z0-9]+'),
                      w -> len(w) > 0)) AS t
                    FROM documents)),
            tr AS (SELECT * FROM tok WHERE doc_id % 10 <> 0),
            counts AS (
              SELECT bucket,
                     CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS cpos,
                     CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS cneg
              FROM tr GROUP BY bucket),
            tot AS (
              SELECT CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS tpos,
                     CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS tneg
              FROM tr),
            dtot AS (
              SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS npos,
                     CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS nneg
              FROM documents WHERE doc_id % 10 <> 0),
            wt AS (
              SELECT b.bucket,
                     CAST(floor(ln(coalesce(c.cpos, 0) + 1) * 1000000 + 0.5) AS BIGINT)
                       - CAST(floor(ln(t.tpos + 512) * 1000000 + 0.5) AS BIGINT)
                       - CAST(floor(ln(coalesce(c.cneg, 0) + 1) * 1000000 + 0.5) AS BIGINT)
                       + CAST(floor(ln(t.tneg + 512) * 1000000 + 0.5) AS BIGINT) AS weight_micro
              FROM (SELECT unnest(range(512)) AS bucket) b
              LEFT JOIN counts c USING (bucket) CROSS JOIN tot t),
            prior AS (
              SELECT CAST(floor(ln(npos) * 1000000 + 0.5) AS BIGINT)
                       - CAST(floor(ln(nneg) * 1000000 + 0.5) AS BIGINT) AS prior_micro
              FROM dtot),
            contrib AS (
              SELECT tok.doc_id, CAST(sum(wt.weight_micro) AS BIGINT) AS tok_sum
              FROM tok JOIN wt USING (bucket)
              GROUP BY tok.doc_id),
            scored AS (
              SELECT d.doc_id,
                     coalesce(c.tok_sum, 0) + p.prior_micro AS score_micro
              FROM documents d LEFT JOIN contrib c USING (doc_id)
              CROSS JOIN prior p)
            SELECT s.doc_id, s.score_micro, s.score_micro > 0 AS predicted,
                   d.lang = 'en' AS actual
            FROM scored s JOIN documents d USING (doc_id)"""))

  /** The DSIR hashed model and per-doc score every DSIR oracle replays
    * (q109, q119, q124, q135, q140, q141, q145): `tk` (tokens; tgt =
    * lang 'en'), the gram rows (`bg`: bigrams; with `unigrams`, `ft`:
    * tokens and bigrams), `hb` (md5 hashes into 4096 buckets), `c`
    * (per-bucket target and raw counts), `n` (their totals) and `sc`
    * (the per-doc `scCols` over the doc's hashed grams). */
  private def dsirScoreCtes(scCols: String, unigrams: Boolean = false): String = {
    val bigrams = """CASE WHEN len(tk) >= 2 THEN
                       list_transform(range(1, len(tk)),
                                      i -> tk[i] || ' ' || tk[i + 1])
                     ELSE [] END"""
    val (grams, gramList) =
      if (unigrams) ("ft", s"list_concat(tk, $bigrams)") else ("bg", bigrams)
    s"""WITH tk AS (
              SELECT doc_id, lang = 'en' AS tgt,
                     list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                 t -> len(t) > 0) AS tk
              FROM documents),
            $grams AS (
              SELECT doc_id, tgt, unnest($gramList) AS gram
              FROM tk),
            hb AS (
              SELECT doc_id, tgt,
                     ('0x' || substr(md5(gram), 1, 4))::BIGINT % 4096 AS b
              FROM $grams),
            c AS (
              SELECT b,
                     CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct,
                     CAST(sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS BIGINT) AS cr
              FROM hb GROUP BY b),
            n AS (SELECT CAST(sum(ct) AS BIGINT) AS nt,
                         CAST(sum(cr) AS BIGINT) AS nr FROM c),
            sc AS (
              SELECT hb.doc_id, $scCols
              FROM hb JOIN c USING (b) CROSS JOIN n
              GROUP BY hb.doc_id)"""
  }

  /** The exact DECIMAL sum of a doc's 12-dp per-gram log-ratios. */
  private lazy val dsirLrSum: String = """sum(CAST(round(
                         ln(CAST(c.ct + 1 AS DOUBLE) / (n.nt + 4096))
                       - ln(CAST(c.cr + 1 AS DOUBLE) / (n.nr + 4096)), 12)
                       AS DECIMAL(38,12)))"""

  /** A doc's mean log-ratio at 6 dp, rounded by `round` (`round` or
    * `round_even`). */
  private def dsirAvg(round: String): String =
    s"$round(CAST($dsirLrSum AS DOUBLE) / count(*), 6)"

  /** [[dsirScoreCtes]] with the labeled score (y, s) that q135, q140 and
    * q141 rank. */
  private lazy val dsirLabeledScoreCtes: String =
    dsirScoreCtes(s"bool_or(hb.tgt) AS y, ${dsirAvg("round")} AS s")

  // ---------------------------------------------------------------- q109
  // DSIR importance weights (Xie et al. 2023): score every document by
  // the log-likelihood ratio of its hashed bigram features under the
  // TARGET model (lang='en' docs) vs the RAW model (everything else).
  // The model is nBuckets=4096 hashed counts — parameter-sized state,
  // broadcast to the scoring stream — and each per-occurrence log-ratio
  // is rounded to 12 dp and summed as DECIMAL(38,12), so DuckDB replays
  // the entire pipeline (hashing, smoothing, exact sums) hash-for-hash.
  private val q109 = Q("q109_dsir_weights",
    (s, dir) => Dsir.importanceWeights(t(s, dir, "documents"),
      "text", "doc_id", isTarget = col("lang") === "en", nBuckets = 4096),
    Some(dsirScoreCtes("CAST(count(*) AS BIGINT) AS n_bigrams, " +
      dsirAvg("round_even") + " AS avg_logratio") + """
            SELECT d.doc_id, d.lang = 'en' AS is_target,
                   coalesce(sc.n_bigrams, 0) AS n_bigrams,
                   sc.avg_logratio,
                   sc.avg_logratio > 0 AS keep
            FROM documents d LEFT JOIN sc USING (doc_id)"""))

  // ---------------------------------------------------------------- q110
  // Leakage-safe train/val/test split: the PRECOMPUTED near-dup pair
  // frame (nearDupPairs — the exact frame q30 registers, pinned once
  // per session/dir) -> connected components -> split assignment by
  // md5-bucket OF THE DUPLICATE GROUP, so a near-dup cluster can never
  // straddle train and test. The Spark side consumes the shared pair
  // frame (the composition a real pipeline runs: dedup already produced
  // it); the oracle stays self-contained and replays LSH, the
  // recursive-CTE components, and the bucket-16 split arithmetic.
  private val q110 = Q("q110_leak_safe_split",
    (s, dir) => {
      val docs = docsWithDups(s, dir)
      Split.leakageSafeAssign(docs.select(col("doc_id")), "doc_id",
        nearDupPairs(s, dir),
        "id_a", "id_b", Seq("train" -> 12, "val" -> 2, "test" -> 2))
        .select(col("doc_id"), col("group_id"), col("bucket"), col("split"))
    },
    Some(s"""${SketchSql.nearDupReachCtes("p")},
            comp AS (SELECT a AS doc_id, least(a, min(b)) AS comp
                     FROM reach GROUP BY a),
            lab AS (
              SELECT dd.doc_id, coalesce(c.comp, dd.doc_id) AS group_id
              FROM (SELECT doc_id FROM d) dd LEFT JOIN comp c USING (doc_id)),
            bk AS (
              SELECT doc_id, group_id,
                     CAST(strpos('0123456789abcdef',
                       substr(md5(CAST(group_id AS VARCHAR)), 1, 1)) - 1
                       AS BIGINT) AS bucket
              FROM lab)
            SELECT doc_id, group_id, bucket,
                   CASE WHEN bucket < 12 THEN 'train'
                        WHEN bucket < 14 THEN 'val'
                        ELSE 'test' END AS split
            FROM bk"""))

  // ---------------------------------------------------------------- q111
  // Cluster-balanced resampling: quantizer-cell assignment (the q80/q99
  // codebook recipe at a THIRD autoNlist operating point, target cell
  // 32), then downsample every cell to the smallest cell's mass with the
  // md5-bucket rule — semantic rebalance of the corpus, decision a pure
  // function of (cell sizes, vec_id). The oracle replays the nlist
  // derivation, every cell argmax, the cell counts, and the bucket
  // arithmetic.
  private val q111 = Q("q111_cluster_balance",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val cb = autoCodebook(e, 32)
      Similarity.clusterBalancedSample(e, "vec_id", "embedding", cb)
    },
    Some(s"""WITH ${autoIvfDotsCtes(32)},
            $homeCellCte,
            cnt AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_cell
                    FROM cells GROUP BY cell),
            mn AS (SELECT min(n_cell) AS min_cell FROM cnt),
            kf AS (
              SELECT c.vec_id, c.cell, n.n_cell,
                     CAST(m.min_cell AS DOUBLE) / n.n_cell AS kfr
              FROM cells c JOIN cnt n USING (cell) CROSS JOIN mn m)
            SELECT vec_id, CAST(cell AS INTEGER) AS cell, n_cell,
                   round(kfr, 6) AS keep_fraction,
                   ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4))::BIGINT
                     < round(kfr * 65536.0) AS keep
            FROM kf"""))

  // ---------------------------------------------------------------- q112
  // Distributed BPE merge-table TRAINING — the learning twin of q105's
  // gated apply loop, now Sennrich's INCREMENTAL trainer at a realistic
  // merge count (64): per round, count weighted adjacent pairs over the
  // CURRENT token state, adopt the argmax (count desc, then
  // lexicographic — engine-portable), and apply ONLY that newest merge
  // to the state (a single separator-string `replace` — greedy
  // non-overlapping left-to-right, the same primitive in both engines).
  // Per-round cost is flat in the merge index — the property that makes
  // production vocabularies reachable (BpeTrain scaladoc). The oracle
  // replays the identical loop round by round: s0 is the char-split
  // dict, each round counts pairs from s(n-1), takes the argmax, and
  // derives s(n) by one replace. One wrong count or one mis-applied
  // merge anywhere flips a later argmax and the hash. MATERIALIZED
  // pins the multiply-referenced state/merge CTEs (s(n) feeds both
  // p(n+1) and s(n+1)) so DuckDB cannot inline them exponentially.
  private def bpeIncRoundSql(n: Int, last: Boolean): String = {
    val head =
      s"""p$n AS (
              SELECT pr.a, pr.b, CAST(sum(cnt) AS BIGINT) AS pair_count
              FROM (SELECT cnt, unnest(list_transform(range(1, len(t)),
                             i -> {'a': t[i], 'b': t[i + 1]})) AS pr
                    FROM (SELECT cnt,
                                 string_split(trim(s, chr(31)), chr(31) || chr(31)) AS t
                          FROM s${n - 1}) WHERE len(t) >= 2)
              GROUP BY pr.a, pr.b),
            m$n AS MATERIALIZED (
              SELECT CAST(${n - 1} AS BIGINT) AS rnk, a, b, pair_count
              FROM p$n ORDER BY pair_count DESC, a, b LIMIT 1)"""
    if (last) head else head +
      s""",
            s$n AS MATERIALIZED (
              SELECT cnt,
                     replace(s, chr(31) || m.a || chr(31) || chr(31) || m.b || chr(31),
                                chr(31) || m.a || m.b || chr(31)) AS s
              FROM s${n - 1}, m$n m)"""
  }

  private val BpeTrainMerges = 64

  private val q112 = Q("q112_bpe_train",
    (s, dir) => graft.operators.BpeTrain.learnMergesTable(
      t(s, dir, "documents"), "text", numMerges = BpeTrainMerges),
    Some(s"""WITH dict AS (
              SELECT w, CAST(count(*) AS BIGINT) AS cnt
              FROM (SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
                                              t -> len(t) > 0)) AS w
                    FROM documents)
              GROUP BY w),
            s0 AS MATERIALIZED (
              SELECT cnt,
                     list_aggregate(list_transform(string_split(w, ''),
                       c -> chr(31) || c || chr(31)), 'string_agg', '') AS s
              FROM dict),
            ${(1 to BpeTrainMerges)
                .map(n => bpeIncRoundSql(n, n == BpeTrainMerges))
                .mkString(",\n            ")}
            ${(1 to BpeTrainMerges).map(n => s"SELECT * FROM m$n")
                .mkString(" UNION ALL ")}"""))

  // ---------------------------------------------------------------- q113
  // ExactSubstr-lite span removal (Lee et al. 2022 §4.1 token-window
  // variant): every 8-token span occurring more than once in the corpus
  // is removed from every occurrence except the globally first (min
  // (doc_id, pos)). Injected verbatim copies collapse to the empty
  // string; shared spans inside otherwise-distinct docs are stripped at
  // their later occurrences only. The oracle recomputes the window
  // stream, the first-occurrence resolution, the coverage explode, and
  // the per-doc rebuild — one mis-kept token anywhere flips the hash.
  private val q113 = Q("q113_strip_dup_spans",
    (s, dir) => TextDedup.stripDupSpans(docsWithDups(s, dir),
      "text", "doc_id", window = 8),
    Some("WITH " + dupDocsCte + """,
            tk AS (
              SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                         t -> len(t) > 0) AS t
              FROM d),
            occ AS (
              SELECT doc_id, i - 1 AS pos,
                     array_to_string(list_slice(t, i, i + 7), ' ') AS gram
              FROM (SELECT doc_id, t, unnest(range(1, len(t) - 8 + 2)) AS i
                    FROM tk WHERE len(t) >= 8)),
            occ2 AS (
              SELECT doc_id, pos,
                     count(*) OVER (PARTITION BY gram) AS n,
                     row_number() OVER (PARTITION BY gram
                       ORDER BY doc_id, pos) AS rn
              FROM occ),
            remtok AS (
              SELECT DISTINCT doc_id, unnest(range(pos, pos + 8)) AS ti
              FROM occ2 WHERE n > 1 AND rn > 1),
            toks AS (
              SELECT doc_id, i - 1 AS ti, t[i] AS tok
              FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM tk)),
            kept AS (
              SELECT k.doc_id, k.ti, k.tok
              FROM toks k LEFT JOIN remtok r
                ON k.doc_id = r.doc_id AND k.ti = r.ti
              WHERE r.ti IS NULL),
            reb AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_n,
                     string_agg(tok, ' ' ORDER BY ti) AS clean_text
              FROM kept GROUP BY doc_id)
            SELECT tk.doc_id, CAST(len(tk.t) AS BIGINT) AS n_tokens,
                   CAST(len(tk.t) - coalesce(reb.kept_n, 0) AS BIGINT) AS n_removed,
                   coalesce(reb.clean_text, '') AS clean_text
            FROM tk LEFT JOIN reb USING (doc_id)"""))

  // ---------------------------------------------------------------- q114
  // Tokenizer evaluation — the fertility/compression report a tokenizer-
  // training pipeline emits per language (tokens-per-word and chars-per-
  // token under the gated BPE apply): high fertility on a language means
  // the merges table underserves it. Composes the q105 tokenizer with
  // one lang-keyed aggregation; BPE partitions each word's characters,
  // so total token chars = total non-whitespace chars (asserted by the
  // oracle recomputing both sides independently).
  private val q114 = Q("q114_tokenizer_eval",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val toks = TF.bpeTokens(col("text"), TF.DemoMerges)
      d.select(col("lang"),
          TF.tokenCount(col("text")).as("_w"),
          size(toks).cast(LongType).as("_b"),
          length(regexp_replace(col("text"), "\\s", "")).cast(LongType).as("_c"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("_w")).as("n_words"),
          sum(col("_b")).as("n_bpe_tokens"),
          sum(col("_c")).as("n_chars"))
        .select(col("lang"), col("n_docs"), col("n_words"),
          col("n_bpe_tokens"), col("n_chars"),
          round(col("n_bpe_tokens").cast(DoubleType) /
            col("n_words").cast(DoubleType), 6).as("fertility"),
          round(col("n_chars").cast(DoubleType) /
            col("n_bpe_tokens").cast(DoubleType), 6).as("chars_per_token"))
    },
    Some(s"""WITH RECURSIVE corpus AS (SELECT doc_id, text FROM documents),
            $bpeRecSql,
            bpe AS (
              SELECT doc_id, CAST(sum(len(toks)) AS BIGINT) AS n_bpe
              FROM tok GROUP BY doc_id),
            per AS (
              SELECT d.lang,
                     CAST(len(list_filter(string_split_regex(lower(trim(d.text)), '\\s+'),
                                          t -> len(t) > 0)) AS BIGINT) AS w,
                     coalesce(bpe.n_bpe, 0) AS b,
                     CAST(length(regexp_replace(d.text, '\\s', '', 'g')) AS BIGINT) AS c
              FROM documents d LEFT JOIN bpe USING (doc_id))
            SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(w) AS BIGINT) AS n_words,
                   CAST(sum(b) AS BIGINT) AS n_bpe_tokens,
                   CAST(sum(c) AS BIGINT) AS n_chars,
                   round(CAST(sum(b) AS DOUBLE) / CAST(sum(w) AS DOUBLE), 6) AS fertility,
                   round(CAST(sum(c) AS DOUBLE) / CAST(sum(b) AS DOUBLE), 6) AS chars_per_token
            FROM per GROUP BY lang"""))

  // ---------------------------------------------------------------- q115
  // Length-bucketed batching: sort by token length (doc_id tie-break),
  // cut into 64-doc batches, report per-batch padding waste — each batch
  // pads to its own max length instead of the corpus max. Ranks come
  // from the distributed prefix scan (no single-task window); the oracle
  // recomputes the global order, the batch cut, and both padding ratios.
  private val q115 = Q("q115_length_batches",
    (s, dir) => {
      val batched = Pack.lengthBatches(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        TF.tokenCount(col("text")), "doc_id", batchSize = 64)
      val padded = col("max_len") * col("n_docs")
      batched.groupBy(col("batch_id"))
        .agg(count(lit(1)).as("n_docs"),
          max(col("n_tokens")).as("max_len"),
          sum(col("n_tokens")).as("sum_tokens"))
        .select(col("batch_id"), col("n_docs"), col("max_len"),
          col("sum_tokens"), padded.as("padded_tokens"),
          when(padded > 0, round(lit(1.0) -
            col("sum_tokens").cast(DoubleType) / padded.cast(DoubleType), 6))
            .as("waste_frac"))
    },
    Some("""WITH t AS (
              SELECT doc_id,
                     CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                          x -> len(x) > 0)) AS BIGINT) AS n
              FROM documents),
            r AS (SELECT doc_id, n,
                         row_number() OVER (ORDER BY n, doc_id) - 1 AS idx
                  FROM t),
            b AS (SELECT idx // 64 AS batch_id, n FROM r)
            SELECT batch_id,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   max(n) AS max_len,
                   CAST(sum(n) AS BIGINT) AS sum_tokens,
                   CAST(max(n) * count(*) AS BIGINT) AS padded_tokens,
                   CASE WHEN max(n) * count(*) > 0 THEN
                     round(1.0 - CAST(sum(n) AS DOUBLE) / (max(n) * count(*)), 6)
                   END AS waste_frac
            FROM b GROUP BY batch_id"""))

  // ---------------------------------------------------------------- q116
  // Corpus card: the one-row dataset summary a curation pipeline
  // publishes with every release — sizes, language/source spread, exact
  // mean quality (DECIMAL-summed round-6 per-doc scores, so the mean is
  // order-free), exact-dup volume via the content key, and the short-doc
  // count. One corpus pass; the oracle recomputes every statistic
  // including the full per-doc quality formula.
  private val q116 = Q("q116_corpus_card",
    (s, dir) => t(s, dir, "documents")
      .select(col("lang"), col("source"),
        TF.tokenCount(col("text")).as("ntok"),
        TF.contentKey(col("text")).as("ck"),
        TF.qualityScore(col("text")).as("q"))
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("lang")).as("n_langs"),
        count_distinct(col("source")).as("n_sources"),
        sum(col("ntok")).as("total_tokens"),
        bround(sum(col("q").cast(DecimalType(38, 6))).cast(DoubleType) /
          count(lit(1)), 6).as("mean_quality"),
        count_distinct(col("ck")).as("distinct_texts"),
        (count(lit(1)) - count_distinct(col("ck"))).as("dup_docs"),
        sum(when(col("ntok") < 10, 1L).otherwise(0L)).as("short_docs")),
    Some(s"""WITH per AS (
              SELECT lang, source,
                     CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                          t -> len(t) > 0)) AS BIGINT) AS ntok,
                     md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS ck,
                     ${SketchSql.qualitySql("text")} AS q
              FROM documents)
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                   CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
                   CAST(sum(ntok) AS BIGINT) AS total_tokens,
                   round(CAST(sum(CAST(q AS DECIMAL(38,6))) AS DOUBLE)
                     / count(*), 6) AS mean_quality,
                   CAST(count(DISTINCT ck) AS BIGINT) AS distinct_texts,
                   CAST(count(*) - count(DISTINCT ck) AS BIGINT) AS dup_docs,
                   CAST(sum(CASE WHEN ntok < 10 THEN 1 ELSE 0 END) AS BIGINT) AS short_docs
            FROM per"""))

  // ---------------------------------------------------------------- q117
  // Cross-source overlap matrix: distinct 8-gram containment per source
  // pair — the provenance audit of a multi-source corpus. The oracle
  // recomputes the distinct (source, gram) frame, the pair counts, and
  // the containment coefficient.
  private val q117 = Q("q117_source_overlap",
    (s, dir) => TextDedup.sourceOverlap(t(s, dir, "documents"),
      "text", "source", n = 8),
    Some("""WITH g AS (
              SELECT DISTINCT source, gram FROM (
                SELECT source, unnest(list_distinct(list_transform(
                         range(1, greatest(len(tk) - 7, 1) + 1),
                         i -> array_to_string(tk[i:i+7], ' ')))) AS gram
                FROM (SELECT source,
                             list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                         t -> len(t) > 0) AS tk
                      FROM documents))),
            t AS (SELECT source, CAST(count(*) AS BIGINT) AS n
                  FROM g GROUP BY source),
            p AS (SELECT a.source AS source_a, b.source AS source_b,
                         CAST(count(*) AS BIGINT) AS shared_grams
                  FROM g a JOIN g b
                    ON a.gram = b.gram AND a.source < b.source
                  GROUP BY 1, 2)
            SELECT p.source_a, p.source_b, p.shared_grams,
                   round(CAST(p.shared_grams AS DOUBLE) / least(ta.n, tb.n), 6)
                     AS containment
            FROM p JOIN t ta ON ta.source = p.source_a
                   JOIN t tb ON tb.source = p.source_b"""))

  // ---------------------------------------------------------------- q119
  // DSIR Gumbel top-k importance RESAMPLING — the paper's actual
  // selection rule (q109 scores; this selects): unigram+bigram hashed
  // features (the paper's feature set), per-doc TOTAL log importance
  // weight, plus deterministic md5-seeded standard Gumbel noise; keep
  // the top quarter by perturbed key via the exact interpolated 0.75
  // quantile (no global sort). The oracle replays features, model,
  // exact DECIMAL weight sums, the Gumbel transform, and the
  // quantile_cont cutoff end-to-end.
  private val q119 = Q("q119_dsir_resample",
    (s, dir) => Dsir.resampleKeep(t(s, dir, "documents"), "text", "doc_id",
      isTarget = col("lang") === "en", nBuckets = 4096,
      fraction = 0.25, seed = "dsir", unigrams = true),
    Some(dsirScoreCtes(
      s"CAST(count(*) AS BIGINT) AS n_features, $dsirLrSum AS lrsum", unigrams = true) + """,
            g AS (
              SELECT d.doc_id, d.lang = 'en' AS is_target,
                     coalesce(sc.n_features, 0) AS n_features,
                     sc.lrsum,
                     round(-ln(-ln(
                       ((('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || 'dsir'), 1, 4))::BIGINT
                         ::DOUBLE + 0.5) / 65536.0))), 12) AS gum
              FROM documents d LEFT JOIN sc USING (doc_id)),
            k AS (
              SELECT *, CAST(lrsum AS DOUBLE) + gum AS key FROM g),
            cut AS (SELECT quantile_cont(key, 0.75) AS cutoff FROM k)
            SELECT doc_id, is_target, n_features,
                   round_even(CAST(lrsum AS DOUBLE), 6) AS log_weight,
                   gum AS gumbel,
                   round_even(key, 6) AS key,
                   round_even(cut.cutoff, 6) AS cutoff,
                   coalesce(key > cut.cutoff, FALSE) AS keep
            FROM k CROSS JOIN cut"""))

  // ---------------------------------------------------------------- q120
  // The STREAMING near-dup path executed and oracle-gated: a real
  // file-source stream runs StreamingNearDup.hits in ORACLE-MODE
  // hashing (md5-derived 31-bit signatures + md5 band hashes — the
  // exact algebra SketchSql.minhashCtes recomputes) into a parquet
  // sink, and DuckDB replays the stream's entire decision path: the
  // registered result is the distinct normalized pair set with the
  // SIGNATURE-ESTIMATED Jaccard (matching-minima fraction ≥ 0.8 — the
  // statistic a bounded-state stream can compute; est values are exact
  // dyadic m/32, so no rounding is needed on either side).
  private val q120 = Q("q120_stream_neardup",
    (s, dir) => graft.streaming.StreamHarness.nearDupSinkRun31(s, dir),
    Some(s"""WITH ${SketchSql.minhashCtes},
            sge AS (
              SELECT c.id_a, c.id_b,
                     CAST(len(list_filter(range(1, ${SketchSql.K + 1}),
                       i -> ga.sigs[i] = gb.sigs[i])) AS DOUBLE) / ${SketchSql.K}
                       AS est_jaccard
              FROM cand c
              JOIN sg ga ON ga.doc_id = c.id_a
              JOIN sg gb ON gb.doc_id = c.id_b)
            SELECT id_a, id_b, est_jaccard FROM sge
            WHERE est_jaccard >= 0.8"""))

  // ---------------------------------------------------------------- q121
  // Temperature-based mixture planning (XLM-R's alpha rule): shares
  // DERIVED from the token inventory as n_tokens^0.7, then the q81
  // budget/rate arithmetic and the md5 sampling rule. The oracle
  // replays pow, the DECIMAL weight total, the round-12 share quotient,
  // and every sampled-doc count.
  private val q121 = Q("q121_temperature_mix",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val plan = Split.temperaturePlan(docs, "source",
        TF.tokenCount(col("text")), alpha = 0.7, budget = 15000L)
      mixtureReport(docs, plan)
    },
    Some(s"""$mixtureInventoryCtes,
            w AS (
              SELECT *, CAST(round_even(pow(CAST(n_tokens AS DOUBLE), 0.7), 6)
                             AS DECIMAL(38,6)) AS wt
              FROM agg),
            tot AS (SELECT sum(wt) AS tw FROM w),
            pl AS (
              SELECT w.*, round_even(CAST(wt AS DOUBLE) / CAST(tot.tw AS DOUBLE), 12) AS share
              FROM w CROSS JOIN tot),
            pl2 AS (
              SELECT *, CAST(alloc_tokens AS DOUBLE) / n_tokens AS rate
              FROM (SELECT *, CAST(round(share * 15000, 0) AS BIGINT) AS alloc_tokens
                    FROM pl)),
            $mixtureSampleSql"""))

  // ---------------------------------------------------------------- q122
  // Duplicate-cluster size distribution — the dedup report Lee et al.
  // 2022 publish (how much of the dup volume sits in pairs vs large
  // boilerplate clusters decides which dedup strategy pays). SECOND
  // consumer of the shared precomputed pair frame (q110 is the first):
  // components over the pinned pairs, then two tiny aggs. The oracle
  // replays LSH + recursive-CTE components + both aggregations.
  private val q122 = Q("q122_dup_cluster_sizes",
    (s, dir) => {
      val comps = Components.labelPropagate(nearDupPairs(s, dir),
        "id_a", "id_b")
      comps.groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          (col("cluster_size") * count(lit(1))).as("n_docs"))
    },
    Some(s"""${SketchSql.nearDupReachCtes("p")},
            comp AS (SELECT a AS id, least(a, min(b)) AS comp
                     FROM reach GROUP BY a),
            sz AS (SELECT comp, CAST(count(*) AS BIGINT) AS cluster_size
                   FROM comp GROUP BY comp)
            SELECT cluster_size,
                   CAST(count(*) AS BIGINT) AS n_clusters,
                   CAST(cluster_size * count(*) AS BIGINT) AS n_docs
            FROM sz GROUP BY cluster_size"""))

  // ---------------------------------------------------------------- q123
  // BM25 top-k retrieval (Okapi weighting, Lucene "+1" idf) — the READ
  // path of the q88 inverted index: only query-term occurrences survive
  // the scan filter, doc length rides the explode as a group key (no
  // corpus-sized join), df + corpus stats broadcast back, and the top-k
  // plans as TakeOrderedAndProject on the EXACT decimal score. The
  // oracle replays tokenization, idf, the per-term round-12 DECIMAL
  // contributions, and the ranked cut.
  private val q123 = Q("q123_bm25_topk",
    (s, dir) => Tfidf.bm25TopK(t(s, dir, "documents"), "text", "doc_id",
      queryTerms = Seq("spark", "join", "vector"), k = 15),
    Some("WITH " + tokensCte("documents") + """,
            occ AS (
              SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl, unnest(tk) AS term
              FROM tk),
            tf AS (
              SELECT term, doc_id, dl, CAST(count(*) AS BIGINT) AS tf
              FROM occ WHERE term IN ('spark', 'join', 'vector')
              GROUP BY term, doc_id, dl),
            dfv AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
            st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                          CAST(sum(len(tk)) AS DOUBLE) / count(*) AS avgdl
                   FROM tk),
            sc AS (
              SELECT tf.doc_id,
                     sum(CAST(round(
                         ln((st.n_docs - dfv.df + 0.5) / (dfv.df + 0.5) + 1.0)
                       * (tf.tf * 2.2)
                       / (tf.tf + 1.2 * (0.25 + 0.75 * CAST(tf.dl AS DOUBLE) / st.avgdl)),
                       12) AS DECIMAL(38,12))) AS s,
                     CAST(count(*) AS BIGINT) AS n_terms_hit
              FROM tf JOIN dfv USING (term) CROSS JOIN st
              GROUP BY tf.doc_id),
            top AS (SELECT *, row_number() OVER (ORDER BY s DESC, doc_id) AS rn FROM sc)
            SELECT doc_id, round_even(CAST(s AS DOUBLE), 6) AS score, n_terms_hit
            FROM top WHERE rn <= 15"""))

  // ---------------------------------------------------------------- q124
  // STATELESS DSIR scoring EXECUTED as a stream: the hashed-bigram
  // model is fitted batch-side (deterministic — the q109 counts), rides
  // as a literal array inside the scoring projection, and a real
  // file-source stream scores every doc into a parquet sink with ZERO
  // state and zero joins. The oracle re-fits the model and re-scores
  // every document in SQL, so the stream's sink is hash-gated — this
  // closes the last spec-only streaming scoring path.
  private val q124 = Q("q124_stream_dsir_score",
    (s, dir) => graft.streaming.StreamHarness.dsirScoreSinkRun(s, dir),
    Some(dsirScoreCtes("CAST(count(*) AS BIGINT) AS n_bigrams, " +
      dsirAvg("round") + " AS avg_logratio") + """
            SELECT d.doc_id,
                   coalesce(sc.n_bigrams, 0) AS n_bigrams,
                   sc.avg_logratio
            FROM documents d LEFT JOIN sc USING (doc_id)"""))

  // ---------------------------------------------------------------- q125
  // PQ reconstruction-error report — the index-quality audit before
  // trusting q107's ADC results: per subspace, mean/max squared-L2 to
  // the assigned codeword (= the per-subspace distance MINIMUM, so the
  // report needs no codes join — one explode + one hash agg). Same
  // codebook recipe as q107; the oracle replays every subspace distance
  // and both aggregates with the round-12 DECIMAL contract.
  private val q125 = Q("q125_pq_recon_error",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      Pq.reconstructionError(e, "embedding", pinnedPqCodebooks(e))
    },
    Some(pqDistsCtes + """,
            mins AS (
              SELECT vec_id, s, round(min(d), 12) AS err
              FROM dists GROUP BY vec_id, s)
            SELECT CAST(s AS INT) AS subspace,
                   CAST(count(*) AS BIGINT) AS n_vectors,
                   round_even(CAST(sum(CAST(err AS DECIMAL(38,12))) AS DOUBLE)
                         / count(*), 6) AS mean_sq_error,
                   round_even(max(err), 6) AS max_sq_error
            FROM mins GROUP BY s"""))

  /** The brute-force top-3 (query_id, neighbor_id) truth of `q` over
    * the corpus `e` (q126, q128, q129, q153). */
  private def bruteTop3(q: DataFrame, e: DataFrame): DataFrame =
    Similarity.bruteForceTopK(q, e, "vec_id", "embedding", k = 3)
      .select(col("query_id"), col("neighbor_id"))

  /** Per-query recall@3 of `found` against the truth `bf` for every
    * `panel` query, with the `dial` columns after the query id. */
  private def recallAt3(panel: DataFrame, bf: DataFrame, found: DataFrame,
                        dial: Column*): DataFrame = {
    val matched = bf.join(found, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_matched"))
    panel.select(col("vec_id").as("query_id"))
      .join(matched, Seq("query_id"), "left")
      .select(col("query_id") +: dial :+
        coalesce(col("n_matched"), lit(0L)).as("n_matched") :+
        bround(coalesce(col("n_matched"), lit(0L)).cast(DoubleType) / 3.0, 6)
          .as("recall_at_3"): _*)
  }

  /** `bfs`, `bfr`, `bf`: the exact top-3 of every `qs` query over the
    * corpus — the recall truth of q126 and q153. */
  private lazy val qsBruteTop3Ctes: String = s"""bfs AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     ${PlaneSql.cosSql("q.embedding", "c.embedding")} AS cos
              FROM qs q CROSS JOIN embeddings c WHERE c.vec_id <> q.vec_id),
            bfr AS (
              SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY cos DESC, neighbor_id) AS rn
              FROM bfs),
            bf AS (SELECT query_id, neighbor_id FROM bfr WHERE rn <= 3)"""

  /** `m` and the per-query recall@3 of `found` against `bf` for every
    * `qs` query — the SQL of [[recallAt3]] (q126, q153). */
  private def recallSql(found: String): String =
    s"""m AS (
              SELECT bf.query_id, CAST(count(*) AS BIGINT) AS n_matched
              FROM bf JOIN $found USING (query_id, neighbor_id)
              GROUP BY bf.query_id)
            SELECT q.vec_id AS query_id,
                   coalesce(m.n_matched, 0) AS n_matched,
                   round_even(CAST(coalesce(m.n_matched, 0) AS DOUBLE) / 3.0, 6)
                     AS recall_at_3
            FROM qs q LEFT JOIN m ON m.query_id = q.vec_id"""

  // ---------------------------------------------------------------- q126
  // ANN recall@k report — the retrieval-quality audit q125 is the
  // memory-side twin of: per query, how many of the exact brute-force
  // top-3 the LSH index (q34's pipeline) recovered. The number a
  // pipeline tracks before trading exactness for the bucketed scale
  // path. The oracle replays BOTH pipelines (the q33 exact ranking and
  // the q34 plane-literal LSH ranking) and the per-query overlap count.
  // Expect LOW recall on this table (~0.13 mean): the synthetic
  // embeddings are uniform random, so "nearest" neighbors are barely
  // closer than random and sign-bit buckets cannot separate them —
  // which is precisely the situation this audit exists to SURFACE
  // before anyone trusts the index (AnnPqSpec pins recall ≥ 0.9 on
  // clustered fixtures, where LSH actually works). The low band is
  // MACHINE-CHECKED — AnnRecallBandSpec runs this query on sf0.001 and
  // fails if the mean drifts out of it — and the REMEDY is registered
  // as q128 (IVF nprobe dial, exact at nprobe = nlist).
  private val q126 = Q("q126_ann_recall",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") % 50 === 0)
      val bf = bruteTop3(q, e)
      val lsh = Similarity.lshTopK(q, e, "vec_id", "embedding", k = 3)
        .select(col("query_id"), col("neighbor_id"))
      recallAt3(q, bf, lsh)
    },
    Some(s"""WITH pl(t, pli, p) AS (VALUES ${PlaneSql.planeValues(8, 8, 64, 42L)}),
            qs AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 50 = 0),
            $qsBruteTop3Ctes,
            ${PlaneSql.lshCandCtes},
            lsc AS (
              SELECT cand.query_id, cand.neighbor_id,
                     ${PlaneSql.cosSql("qe.embedding", "ce.embedding")} AS cos
              FROM cand
              JOIN embeddings qe ON qe.vec_id = cand.query_id
              JOIN embeddings ce ON ce.vec_id = cand.neighbor_id),
            lr AS (
              SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY cos DESC, neighbor_id) AS rn
              FROM lsc),
            lsh AS (SELECT query_id, neighbor_id FROM lr WHERE rn <= 3),
            ${recallSql("lsh")}"""))

  // ---------------------------------------------------------------- q127
  // HTML boilerplate strip (the q82 pattern for web dirt): every doc is
  // wrapped in a deterministic HTML shell — a <script> whose BODY
  // contains a bare `<` (block removal must precede tag stripping), a
  // <style> rule, attributed tags, and an entity gauntlet where
  // `&amp;lt;` must decode to the LITERAL "&lt;" (entities decode after
  // tags, `&amp;` last — the double-decode bug inverted into the
  // contract). Map-only projection chain; both engines run the same
  // backreference-free regexes.
  private val q127 = Q("q127_html_strip",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val dirty = concat(
        lit("<html><head><title>t</title>" +
          "<script type=\"text/javascript\">var x = 1 < 2;</script>" +
          "<style>.c{color:red}</style></head><body><p class=\"main\">"),
        col("text"),
        lit("</p><div data-id=\""), col("doc_id").cast(StringType),
        lit("\">&amp;lt; escaped &quot;tag&#39;s&quot;&nbsp;&amp; entities" +
          "</div></body></html>"))
      docs.select(col("doc_id"), TF.stripHtml(dirty).as("clean_text"))
        .withColumn("clean_len", length(col("clean_text")).cast(LongType))
    },
    Some {
      // the stripHtml chain: script/style blocks, then tags, then
      // entities (`&amp;` last), then whitespace runs
      val clean = """trim(regexp_replace(
                     replace(replace(replace(replace(replace(replace(
                       regexp_replace(
                         regexp_replace(
                           regexp_replace(d,
                             '(?is)<script[^>]*>.*?</script\s*>', ' ', 'g'),
                           '(?is)<style[^>]*>.*?</style\s*>', ' ', 'g'),
                         '(?s)<[^>]*>', ' ', 'g'),
                       '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                       '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
                     '\s+', ' ', 'g'))"""
      """WITH dirty AS (
              SELECT doc_id,
                     '<html><head><title>t</title><script type="text/javascript">var x = 1 < 2;</script>'
                     || '<style>.c{color:red}</style></head><body><p class="main">'
                     || text || '</p><div data-id="' || CAST(doc_id AS VARCHAR)
                     || '">&amp;lt; escaped &quot;tag&#39;s&quot;&nbsp;&amp; entities</div></body></html>'
                     AS d
              FROM documents)
            SELECT doc_id,
                   """ + clean + """ AS clean_text,
                   CAST(length(""" + clean + """) AS BIGINT) AS clean_len
            FROM dirty"""
    })

  /** The per-(dial setting, query) recall@3 of the `sc` candidates
    * against `bf`, for every setting `np` of `pr` — the SQL of
    * [[recallAt3]] with a `dial` column (q128, q129). */
  private def dialRecallSql(found: String, dial: String): String =
    s"""$found AS (
              SELECT np, query_id, neighbor_id FROM (
                SELECT np, query_id, neighbor_id,
                       row_number() OVER (PARTITION BY np, query_id
                         ORDER BY cos DESC, neighbor_id) AS rn
                FROM sc)
              WHERE rn <= 3),
            m AS (
              SELECT $found.np, bf.query_id, CAST(count(*) AS BIGINT) AS n_matched
              FROM bf JOIN $found USING (query_id, neighbor_id)
              GROUP BY $found.np, bf.query_id)
            SELECT q.vec_id AS query_id, CAST(pr.np AS INTEGER) AS $dial,
                   coalesce(m.n_matched, 0) AS n_matched,
                   round_even(CAST(coalesce(m.n_matched, 0) AS DOUBLE) / 3.0, 6)
                     AS recall_at_3
            FROM qs q CROSS JOIN pr
            LEFT JOIN m ON m.query_id = q.vec_id AND m.np = pr.np"""

  /** `bf`: the exact top-3 of every 50th vector over `ev` — the recall
    * truth of q128 and q129. */
  private lazy val evBruteTop3Cte: String = """bf AS (
              SELECT query_id, neighbor_id FROM (
                SELECT qe.vec_id AS query_id, ce.vec_id AS neighbor_id,
                       row_number() OVER (PARTITION BY qe.vec_id ORDER BY
                         list_sum(list_transform(range(1, 65),
                           i -> CAST(qe.embedding[i] AS DOUBLE) * CAST(ce.embedding[i] AS DOUBLE))) /
                         (sqrt(qe.nv) * sqrt(ce.nv)) DESC, ce.vec_id) AS rn
                FROM ev qe CROSS JOIN ev ce
                WHERE qe.vec_id % 50 = 0 AND ce.vec_id <> qe.vec_id)
              WHERE rn <= 3)"""

  // ---------------------------------------------------------------- q128
  // ANN recall REMEDY — the actionable other half of the q126 audit.
  // q126 surfaces that sign-bucket LSH recovers ~0.13 of the true top-3
  // on this corpus (uniform-random embeddings — the situation the audit
  // exists to catch); this query demonstrates the knob that turns the
  // number green: route to the IVF pipeline and raise nprobe. It reports
  // per-query recall@3 at nprobe = 4 (the q44 default — measured ~0.5
  // here: the dial moves but is not enough on direction-uniform data)
  // and nprobe = 16 = nlist (full probe — the documented exact end of
  // the dial, ivfTopK scaladoc: "nprobe = nlist == exact", recall 1.0
  // by construction while KEEPING the bucketed execution shape, so the
  // cell-join cost model still applies when data is clusterable). The
  // ground truth is computed ONCE and pinned; the oracle replays brute
  // force AND both probe configurations from one parameterized probe
  // set. AnnRecallBandSpec pins both bands (q126 low, this one green)
  // so config drift cannot flip either audit's meaning silently.
  private val q128 = Q("q128_ann_recall_remedy",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") % 50 === 0)
      val cb = unitCodebook(e, 16)
      val bf = Pin.data(bruteTop3(q, e))
      def recallAt(nprobe: Int): DataFrame = {
        val ivf = Similarity.ivfTopKWithCentroids(q, e, "vec_id", "embedding",
            cb, k = 3, nprobe = nprobe)
          .select(col("query_id"), col("neighbor_id"))
        recallAt3(q, bf, ivf, lit(nprobe).as("nprobe"))
      }
      recallAt(4).unionByName(recallAt(16))
    },
    Some(s"""WITH ${ivfDotsCtes("embeddings WHERE vec_id < 16")},
            $ivfRankCtes,
            qs AS (SELECT vec_id FROM embeddings WHERE vec_id % 50 = 0),
            $evBruteTop3Cte,
            pr AS (SELECT unnest([4, 16]) AS np),
            qcell AS (
              SELECT r.vec_id AS query_id, pr.np, r.ci AS cell
              FROM ranked r CROSS JOIN pr
              WHERE r.vec_id % 50 = 0 AND r.rn <= pr.np),
            ${probeCosCte("sc", "q.np, ")},
            ${dialRecallSql("ivf", "nprobe")}"""))

  // --------------------------------------------------------------- q129
  // The LSH-SIDE recall dial (the q126 audit's remedy WITHOUT switching
  // index family): multi-probe LSH — each query probes, per table, the
  // buckets reached by flipping its smallest-|margin| sign bits
  // (HyperplaneProbesExpr; Lv et al. VLDB 2007). Measured at probes = 1
  // (classic LSH — the q126 low band) and probes = 4 side by side
  // against the pinned brute-force truth: the fan-out is query-side
  // only, the corpus index is untouched, and recall must MOVE UP with
  // the dial even on the adversarial uniform fixture (AnnRecallBandSpec
  // pins the movement). The oracle replays the margin ranking — abs(dp)
  // ascending, plane index on ties, exactly HyperplaneProbesExpr's sort
  // — the bit flips, both probe sets, and both recall columns.
  private val q129 = Q("q129_lsh_multiprobe",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") % 50 === 0)
      val bf = Pin.data(bruteTop3(q, e))
      // corpus bucketing shared across the two dial settings: the probe
      // dial is query-side only, so both settings probe the IDENTICAL
      // capped corpus index — built once, its per-bucket counts pinned
      // (one counts pass instead of two; guide §2.4)
      val idx = Similarity.lshCorpusIndex(e, "vec_id", "embedding")
      def recallAt(p: Int): DataFrame = {
        val lsh = Similarity.lshTopKOnIndex(q, idx, "vec_id", "embedding",
            k = 3, probes = p)
          .select(col("query_id"), col("neighbor_id"))
        recallAt3(q, bf, lsh, lit(p).as("probes"))
      }
      recallAt(1).unionByName(recallAt(4))
    },
    Some(s"""WITH pl(t, pli, p) AS (VALUES ${PlaneSql.planeValues(8, 8, 64, 42L)}),
            qs AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 50 = 0),
            ${evCte()},
            $evBruteTop3Cte,
            ${PlaneSql.cappedCorpusCtes},
            qd AS (
              SELECT s.vec_id AS query_id, pl.t, pl.pli,
                     list_sum(list_transform(range(1, 65),
                       i -> CAST(s.embedding[i] AS DOUBLE) * pl.p[i])) AS dp
              FROM qs s CROSS JOIN pl),
            qm AS (
              SELECT query_id, t, pli, dp,
                     row_number() OVER (PARTITION BY query_id, t
                       ORDER BY abs(dp), pli) AS mr
              FROM qd),
            pr AS (SELECT unnest([1, 4]) AS np),
            flipr AS (SELECT unnest([0, 1, 2, 3]) AS r),
            bq AS (
              SELECT qm.query_id, pr.np, CAST(qm.t AS VARCHAR) || ':' ||
                     string_agg(CASE WHEN (qm.dp >= 0) <> (qm.mr = fr.r)
                       THEN '1' ELSE '0' END, '' ORDER BY qm.pli) AS bucket
              FROM qm CROSS JOIN pr CROSS JOIN flipr fr
              WHERE fr.r < pr.np
              GROUP BY qm.query_id, pr.np, qm.t, fr.r),
            cand AS (
              SELECT DISTINCT q.np, q.query_id, c.neighbor_id
              FROM bq q JOIN cok c USING (bucket)
              WHERE q.query_id <> c.neighbor_id),
            sc AS (
              SELECT cand.np, cand.query_id, cand.neighbor_id,
                     ${PlaneSql.cosSql("qe.embedding", "ce.embedding")} AS cos
              FROM cand
              JOIN embeddings qe ON qe.vec_id = cand.query_id
              JOIN embeddings ce ON ce.vec_id = cand.neighbor_id),
            ${dialRecallSql("lsh", "probes")}"""))

  // --------------------------------------------------------------- q130
  // Scalar quantization (SQ8) top-k — the codebook-free compressed-index
  // tier next to PQ (q107): per-dimension min/max fitted in one corpus
  // pass (2×dim literal model), encode a map-only projection to 8-bit
  // codes + a stored reconstruction norm, search a factored dot
  // (query-side bias + weight array, candidate cost = one codes fold)
  // over the codes scan with the query side broadcast. The oracle
  // refits the identical model (min/max are exact aggregates; the
  // step/invStep divisions are plain IEEE), re-encodes every vector,
  // and replays the factored search with dimension-ordered list_sum
  // folds — one wrong code or one mis-ordered fold anywhere flips the
  // hash.
  private val q130 = Q("q130_sq_topk",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val m = graft.operators.Sq.fit(e, "embedding")
      val codes = graft.operators.Sq.encode(e, "vec_id", "embedding", m)
      graft.operators.Sq.topK(e.filter(col("vec_id") % 50 === 0), codes,
        "vec_id", "embedding", m, k = 3)
    },
    Some(sqOracle))

  /** q130/q148 shared replay: model refit, re-encode, factored search. */
  private lazy val sqOracle: String = "WITH " + sqScoringCtes("vec_id % 50 = 0", "")

  /** The SQ replay parameterized on the query panel and an optional
    * candidate restriction on the CODES side (q156 joins the IVF
    * probed-cell set there — the pruned read's exact semantic: rows
    * outside the probed cells are never scanned, hence never scored). */
  private def sqScoringCtes(panelPred: String, candJoin: String): String =
    s"""dims AS (SELECT unnest(range(1, 65)) AS i),
            mm AS (
              SELECT d.i, min(CAST(e.embedding[d.i] AS DOUBLE)) AS mn,
                     max(CAST(e.embedding[d.i] AS DOUBLE)) AS mx
              FROM embeddings e CROSS JOIN dims d
              GROUP BY d.i),
            st AS (
              SELECT i, mn,
                     CASE WHEN mx = mn THEN 0.0 ELSE (mx - mn) / 255.0 END AS step,
                     CASE WHEN mx = mn THEN 0.0 ELSE 255.0 / (mx - mn) END AS inv
              FROM mm),
            codes AS (
              SELECT e.vec_id, st.i,
                     CAST(least(255.0, greatest(0.0,
                       round((CAST(e.embedding[st.i] AS DOUBLE) - st.mn) * st.inv))) AS INT) AS c
              FROM embeddings e $candJoin CROSS JOIN st),
            encv AS (
              SELECT cd.vec_id,
                     sqrt(list_sum(list((st.mn + cd.c * st.step) * (st.mn + cd.c * st.step)
                       ORDER BY cd.i))) AS rnorm
              FROM codes cd JOIN st USING (i)
              GROUP BY cd.vec_id),
            qs AS (SELECT vec_id, embedding FROM embeddings WHERE $panelPred),
            qprep AS (
              SELECT q.vec_id AS query_id,
                     list_sum(list(CAST(q.embedding[st.i] AS DOUBLE) * st.mn
                       ORDER BY st.i)) AS bias,
                     sqrt(list_sum(list(CAST(q.embedding[st.i] AS DOUBLE) *
                       CAST(q.embedding[st.i] AS DOUBLE) ORDER BY st.i))) AS qn
              FROM qs q CROSS JOIN st
              GROUP BY q.vec_id),
            sc AS (
              SELECT q.vec_id AS query_id, cd.vec_id AS neighbor_id,
                     list_sum(list(cd.c * (CAST(q.embedding[cd.i] AS DOUBLE) * st.step)
                       ORDER BY cd.i)) AS wdot
              FROM codes cd JOIN st USING (i) CROSS JOIN qs q
              WHERE cd.vec_id <> q.vec_id
              GROUP BY q.vec_id, cd.vec_id),
            scored AS (
              SELECT sc.query_id, sc.neighbor_id,
                     (sc.wdot + qp.bias) / (qp.qn * ev2.rnorm) AS cos_sq
              FROM sc
              JOIN qprep qp ON qp.query_id = sc.query_id
              JOIN encv ev2 ON ev2.vec_id = sc.neighbor_id
              WHERE qp.qn <> 0 AND ev2.rnorm <> 0),
            r AS (
              SELECT query_id, neighbor_id, cos_sq,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY cos_sq DESC, neighbor_id) AS rn
              FROM scored)
            SELECT query_id, neighbor_id, round_even(cos_sq, 6) AS cosine_sq,
                   CAST(rn AS INT) AS rank
            FROM r WHERE rn <= 3"""

  // --------------------------------------------------------------- q131
  // IVF-PQ / IVFADC (Jégou TPAMI 2011 §IV; Faiss `IVF16,PQ8`): the two
  // scale stories COMPOSED — IVF bounds who you score (the q44/q128
  // coarse cells), PQ bounds what you scan (8 ints/row, encoding the
  // RESIDUAL x − centroid(cell), which clusters far tighter than raw
  // vectors). The 16-cell coarse codebook is q128's; the 64-codeword
  // residual codebooks come from the first 64 vectors' residuals. The
  // oracle replays the ENTIRE stack — coarse assignment, residuals, PQ
  // codebook slicing, residual encode argmin, probe-cell routing,
  // per-(query, cell) residual distance tables, subspace-ordered ADC
  // sums — one wrong cell, code, or fold anywhere flips the hash.
  /** q131/q142 shared model derivation: 16-cell coarse codebook from
    * the first 16 normalized vectors, 8×64 residual codebooks from the
    * first 64 vectors' residuals — both parameter-sized collects, both
    * replayed verbatim by [[ivfPqOracle]]. */
  private[graft] def ivfPqModel(e: DataFrame):
      (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val cb = unitCodebook(e, 16)
    import graft.plans.SketchExpressions.nearestCentroids
    val samples = e.filter(col("vec_id") < 64).orderBy("vec_id")
      .select(Pq.residualExpr(col("embedding"),
        element_at(nearestCentroids(col("embedding"), cb, 1), 1), cb).as("r"))
      .collect().map(_.getSeq[Double](0).toArray)
    (cb, Pq.codebooks(samples, m = 8))
  }

  private val q131 = Q("q131_ivfpq_topk",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val (cb, cbs) = ivfPqModel(e)
      Pq.ivfPqTopK(e.filter(col("vec_id") % 50 === 0), e, "vec_id", "embedding",
        cb, cbs, k = 3, nprobe = 4)
    },
    Some(ivfPqOracle))

  private lazy val ivfPqOracle: String = ivfPqOracleCtes + adcTop3Select

  /** The read [[ivfPqOracle]] gates — every 50th vector, k = 3,
    * nprobe = 4 — on an opened IVF-PQ index. */
  private def panelTopK(idx: graft.sources.AnnIndex.Loaded, e: DataFrame): DataFrame =
    graft.sources.AnnIndex.topK(idx, e.filter(col("vec_id") % 50 === 0),
      "vec_id", "embedding", k = 3, nprobe = 4)

  /** The read [[sqOracle]] gates (q148, q155) on an opened SQ index. */
  private def panelTopKSq(idx: graft.sources.AnnIndex.LoadedSq, e: DataFrame): DataFrame =
    graft.sources.AnnIndex.topKSq(idx, e.filter(col("vec_id") % 50 === 0),
      "vec_id", "embedding", k = 3)

  /** The top-3 (query, neighbor, adist, rank) rows of an ADC `r`. */
  private lazy val adcTop3Select: String = """
            SELECT query_id, neighbor_id, round_even(adist, 6) AS adist,
                   CAST(rn AS INT) AS rank
            FROM r WHERE rn <= 3"""

  /** The full IVF-PQ replay chain up to the ranked candidate CTE `r` —
    * shared by q131/q142 (final select) and q143 (rerank tail);
    * [[ivfPqAssignCtes]] is its coarse-assignment prefix (through the
    * `ranked` CTE), reused alone by q149's balance report. */
  private lazy val ivfPqAssignCtes: String =
    "WITH " + ivfDotsCtes("embeddings WHERE vec_id < 16") + ",\n            " + rankedCte

  /** `resid` (each vector's residual to its home cell centroid) and
    * `pcb` (the 8x64 residual codebooks: the first 64 residuals sliced
    * into 8-dim subspaces). */
  private lazy val pqResidCtes: String = """resid AS (
              SELECT r.vec_id, r.ci AS cell,
                     list_transform(range(1, 65),
                       i -> CAST(e.embedding[i] AS DOUBLE) - cb.cv[i]) AS rv
              FROM ranked r
              JOIN embeddings e ON e.vec_id = r.vec_id
              JOIN cb ON cb.ci = r.ci
              WHERE r.rn = 1),
            pcb AS (
              SELECT s, t.vec_id + 1 AS c2,
                     list_transform(range(1, 9), i -> t.rv[s * 8 + i]) AS cw
              FROM resid t, (SELECT unnest(range(8)) AS s)
              WHERE t.vec_id < 64)"""

  private lazy val ivfPqOracleCtes: String =
    ivfPqOracleCtesFor("vec_id % 50 = 0")

  /** [[ivfPqOracleCtes]] with the query panel parameterized — q153's
    * fixed-literal serving panel replays the same chain with an id-list
    * predicate instead of the corpus-derived residue sample — and an
    * optional NEIGHBOR predicate (q159's filtered search: the candidate
    * set is masked before ranking, the pre-filter semantic). */
  private def ivfPqOracleCtesFor(panelPred: String,
                                 candPred: String = "TRUE"): String =
    ivfPqAssignCtes + s""",
            $pqResidCtes,
            ndist AS (
              SELECT t.vec_id, p.s, p.c2,
                     list_sum(list_transform(range(1, 9),
                       i -> (t.rv[p.s * 8 + i] - p.cw[i]) *
                            (t.rv[p.s * 8 + i] - p.cw[i]))) AS d
              FROM resid t CROSS JOIN pcb p),
            enc AS (SELECT vec_id, s, c2 AS code FROM (
                      SELECT vec_id, s, c2, row_number() OVER (
                               PARTITION BY vec_id, s ORDER BY d ASC, c2) AS rn
                      FROM ndist) WHERE rn = 1),
            qcell AS (SELECT vec_id AS query_id, ci AS cell FROM ranked
                      WHERE ($panelPred) AND rn <= 4),
            qresid AS (
              SELECT qc.query_id, qc.cell,
                     list_transform(range(1, 65),
                       i -> CAST(e.embedding[i] AS DOUBLE) - cb.cv[i]) AS rv
              FROM qcell qc
              JOIN embeddings e ON e.vec_id = qc.query_id
              JOIN cb ON cb.ci = qc.cell),
            qdist AS (
              SELECT qr.query_id, qr.cell, p.s, p.c2,
                     list_sum(list_transform(range(1, 9),
                       i -> (qr.rv[p.s * 8 + i] - p.cw[i]) *
                            (qr.rv[p.s * 8 + i] - p.cw[i]))) AS d
              FROM qresid qr CROSS JOIN pcb p),
            cand AS (
              SELECT q.query_id, t.vec_id AS neighbor_id, q.cell
              FROM qcell q JOIN resid t USING (cell)
              WHERE q.query_id <> t.vec_id AND ($candPred)),
            adc AS (
              SELECT c.query_id, c.neighbor_id,
                     list_sum(list(qd.d ORDER BY qd.s)) AS adist
              FROM cand c
              JOIN enc n ON n.vec_id = c.neighbor_id
              JOIN qdist qd ON qd.query_id = c.query_id AND qd.cell = c.cell
                           AND qd.s = n.s AND qd.c2 = n.code
              GROUP BY c.query_id, c.neighbor_id),
            r AS (SELECT query_id, neighbor_id, adist,
                         row_number() OVER (PARTITION BY query_id
                           ORDER BY adist ASC, neighbor_id) AS rn
                  FROM adc)"""

  // --------------------------------------------------------------- q132
  // Training-shard manifest — the terminal "cut the corpus into release
  // shards" step: documents laid out in doc_id order, a document joins
  // the shard where its token span starts (exclusive prefix-sum DIV
  // budget — the distributed prefix scan, no single-task window), and
  // the manifest reports per shard the doc/token counts, id range, and
  // the order-free md5-60-bit multiset checksum triple a consumer
  // verifies a downloaded shard against. The oracle replays the window
  // sum, the integer division, and every checksum fold.
  private val q132 = Q("q132_shard_manifest",
    (s, dir) => graft.operators.Pack.shardManifest(
      t(s, dir, "documents"),
      graft.functions.TextFunctions.tokenCount(col("text")),
      "doc_id", shardBudget = 2000L),
    Some("""WITH tk AS (
              SELECT doc_id,
                     CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                          t -> len(t) > 0)) AS BIGINT) AS n_tokens
              FROM documents),
            o AS (
              SELECT doc_id, n_tokens,
                     CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS BIGINT) AS off
              FROM tk),
            a AS (
              SELECT doc_id, n_tokens, off // 2000 AS shard_id,
                     CAST(concat('0x', substr(md5(concat_ws('|', doc_id, n_tokens)),
                       1, 15)) AS BIGINT) AS h
              FROM o)
            SELECT shard_id, count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
                   min(doc_id) AS first_doc, max(doc_id) AS last_doc,
                   bit_xor(h) AS xor_hash,
                   CAST(sum(CAST(h AS DECIMAL(38,0))) AS VARCHAR) AS sum_hash
            FROM a GROUP BY shard_id"""))

  // --------------------------------------------------------------- q133
  // Streaming exact dedup EXECUTED + gated: Spark's built-in
  // watermark-bounded `dropDuplicatesWithinWatermark` over a real file
  // source and parquet sink (StreamHarness.exactDedupSinkRun — batch 1
  // the dedup-free original set, batch 2 the planted copies arriving
  // against armed state). The SINK is the registered result: the oracle
  // replays the original-set derivation, so a single surviving copy or
  // a single over-dropped original flips the hash.
  private val q133 = Q("q133_stream_exact_dedup",
    (s, dir) => graft.streaming.StreamHarness.exactDedupSinkRun(s, dir),
    Some("""WITH o AS (
              SELECT min(doc_id) AS doc_id, text
              FROM documents GROUP BY text)
            SELECT doc_id, md5(text) AS content_key FROM o"""))

  // --------------------------------------------------------------- q134
  // C4-style blocklist screen: the term set is parameter-sized config
  // riding as ONE array literal inside codegen'd HOFs — map-only, zero
  // joins/shuffles at any corpus size. Word-granularity (a listed
  // "scan" does not hit "scanner"), distinct-hit audit column +
  // occurrence count + a >= 4 threshold policy (softer than C4's
  // any-hit drop, so the flag varies on this corpus). "zzz_banned"
  // exercises the no-hit path.
  private val BlockTerms = Seq("slow", "vector", "big", "zzz_banned")
  private val q134 = Q("q134_blocklist_filter",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val n = TF.blocklistOccurrences(col("text"), BlockTerms)
      d.select(col("doc_id"),
        array_join(TF.blocklistHits(col("text"), BlockTerms), ",").as("hit_terms"),
        n.as("n_hits"),
        (n >= 4).as("blocked"))
    },
    Some("""WITH tk AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                 t -> len(t) > 0) AS tk
              FROM documents)
            SELECT doc_id,
                   coalesce(array_to_string(list_sort(list_intersect(list_distinct(tk),
                     ['slow', 'vector', 'big', 'zzz_banned'])), ','), '') AS hit_terms,
                   CAST(len(list_filter(tk, t -> list_contains(
                     ['slow', 'vector', 'big', 'zzz_banned'], t))) AS BIGINT) AS n_hits,
                   len(list_filter(tk, t -> list_contains(
                     ['slow', 'vector', 'big', 'zzz_banned'], t))) >= 4 AS blocked
            FROM tk"""))

  // --------------------------------------------------------------- q135
  // Exact distributed AUC of the DSIR quality score predicting
  // lang = 'en' — the calibration report a pipeline runs BEFORE letting
  // a learned score gate 100 TB (a score with AUC ~0.5 is noise; this
  // self-fit one separates at ~0.94). Mann-Whitney with average ranks
  // for ties; ranks come from one score-keyed hash agg + the
  // distributed prefix scan — no global sort window, no collect. The
  // oracle replays the model fit, the scoring, AND the rank fold.
  /** Shared prep for the q135/q140 evaluation pair: fit the DSIR model
    * on `documents`, score every doc with the fused native scorer, and
    * return the PINNED narrow (lang, nb, score) frame. Spread before
    * the scoring projection: the sf0.1 documents scan is ONE input
    * split, and without the repartition the per-doc scorer serializes
    * on a single core (the same 1-file trap as streaming landings —
    * PlanAuditSpec's rule 4 now guards it). Pin so the scorer runs
    * exactly once per query: Eval's downstream passes (the prefix
    * scan's range sampling, the min/max agg + bin agg, the collapsed
    * key/filter projections) would otherwise re-evaluate it. Each
    * caller computes its own frame (bench honesty: no cross-query
    * memoization of a frame a query's timing should include). */
  private def dsirScoredDocs(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    val m = graft.operators.Dsir.fitLiteralModel(d, "text",
      col("lang") === "en", nBuckets = 4096)
    graft.operators.Pin.data(
      graft.operators.Spread.toCores(d)
        .select(col("lang"),
          graft.operators.Dsir.scoreExpr(col("text"), m).as("s"))
        .select(col("lang"), col("s.n_bigrams").as("nb"),
          col("s.avg_logratio").as("score"))
        .filter(col("nb") > 0))
  }

  private val q135 = Q("q135_classifier_auc",
    (s, dir) => graft.operators.Eval.auc(dsirScoredDocs(s, dir),
      col("score"), col("lang") === "en"),
    Some(dsirLabeledScoreCtes + """,
            g AS (
              SELECT s, CAST(count(*) AS BIGINT) AS nn,
                     CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS np
              FROM sc GROUP BY s),
            w AS (
              SELECT *, CAST(coalesce(sum(nn) OVER (ORDER BY s
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS BIGINT) AS below
              FROM g)
            SELECT CAST(sum(np) AS BIGINT) AS n_pos,
                   CAST(sum(nn - np) AS BIGINT) AS n_neg,
                   round_even((CAST(sum(np * (2 * below + nn + 1)) AS DOUBLE)
                     - CAST(sum(np) AS DOUBLE) * (sum(np) + 1))
                     / (CAST(sum(np) AS DOUBLE) * CAST(sum(nn - np) AS DOUBLE)
                        * 2.0), 6) AS auc
            FROM w"""))

  // --------------------------------------------------------------- q136
  // Semantic decontamination screen: every (benchmark, corpus) pair
  // with cosine >= 0.98 via the IVF cell join — the embedding-space
  // complement of q55's n-gram overlap check, catching paraphrased
  // leakage. The benchmark here is a 1/37 corpus sample with shifted
  // ids, so every benchmark item is planted contamination by
  // construction and the screen must find exactly the self-match set
  // at cosine 1.0. The oracle replays cell ranking, probe cells, and
  // every cosine.
  private val q136 = Q("q136_semantic_screen",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val cb = unitCodebook(e, 16)
      val bench = e.filter(col("vec_id") % 37 === 0)
        .select((col("vec_id") + 30000000L).as("vec_id"), col("embedding"))
      graft.operators.Similarity.semanticScreen(bench, e, "vec_id",
        "embedding", cb, threshold = 0.98, nprobe = 2)
    },
    Some(ivfPqAssignCtes + """,
            ccell AS (SELECT vec_id AS corpus_id, ci AS cell FROM ranked WHERE rn = 1),
            qcell AS (SELECT vec_id + 30000000 AS bench_id, vec_id AS qv_id, ci AS cell
                      FROM ranked WHERE vec_id % 37 = 0 AND rn <= 2),
            pairs AS (
              SELECT q.bench_id, c.corpus_id,
                     list_sum(list_transform(range(1, 65),
                       i -> CAST(qe.embedding[i] AS DOUBLE) * CAST(ce.embedding[i] AS DOUBLE))) /
                     (sqrt(list_sum(list_transform(qe.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
                      sqrt(list_sum(list_transform(ce.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
              FROM qcell q
              JOIN ccell c USING (cell)
              JOIN embeddings qe ON qe.vec_id = q.qv_id
              JOIN embeddings ce ON ce.vec_id = c.corpus_id)
            SELECT bench_id, corpus_id, round_even(cos, 6) AS cosine
            FROM pairs WHERE cos >= 0.98"""))

  // --------------------------------------------------------------- q140
  // Reliability table (calibration) of the DSIR quality score — the
  // companion report to q135's AUC: AUC says the score RANKS well,
  // calibration says whether its VALUE means what a threshold policy
  // assumes. Ten equal-width bins over the observed score range; a
  // monotone frac_pos column (0.00 → 1.00 on this corpus) is what lets
  // a pipeline pick a defensible keep-threshold. Same pinned scored
  // frame as q135; the table itself is one broadcast (min,max) + one
  // ≤-10-row hash agg — O(corpus scan) at any scale.
  private val q140 = Q("q140_score_calibration",
    (s, dir) => graft.operators.Eval.calibration(dsirScoredDocs(s, dir),
      col("score"), col("lang") === "en", bins = 10),
    Some(dsirLabeledScoreCtes + """,
            ext AS (SELECT min(s) AS mn, max(s) AS mx FROM sc)
            SELECT CASE WHEN mx = mn THEN 0
                        ELSE least(CAST(floor((s - mn) / (mx - mn) * 10) AS BIGINT), 9) END AS bin,
                   CAST(count(*) AS BIGINT) AS n,
                   round_even(CAST(sum(CAST(s AS DECIMAL(38,6))) AS DOUBLE) / count(*), 6) AS mean_score,
                   round_even(CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS frac_pos
            FROM sc CROSS JOIN ext GROUP BY 1"""))

  // --------------------------------------------------------------- q141
  // Precision/recall threshold sweep — the third leg of the score-gate
  // report (q135 AUC: does it rank; q140 calibration: does the value
  // mean anything; q141: what does each concrete CUTOFF buy). One row
  // per distinct score for the keep-policy `score >= t`: kept volume,
  // true positives, precision, recall, F1. The sweep is
  // score-cardinality-sized (one hash agg + two prefix scans + a
  // broadcast totals row), never data-sized — the oracle replays the
  // whole pipeline including both running sums.
  private val q141 = Q("q141_pr_curve",
    (s, dir) => graft.operators.Eval.prCurve(dsirScoredDocs(s, dir),
      col("score"), col("lang") === "en"),
    Some(dsirLabeledScoreCtes + """,
            g AS (SELECT s, CAST(count(*) AS BIGINT) AS nn,
                         CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS np
                  FROM sc GROUP BY s),
            w AS (SELECT *,
                    CAST(coalesce(sum(nn) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS below,
                    CAST(coalesce(sum(np) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pbelow,
                    CAST(sum(nn) OVER () AS BIGINT) AS tot,
                    CAST(sum(np) OVER () AS BIGINT) AS totp
                  FROM g),
            raw AS (
              SELECT s, tot - below AS kept_n, totp - pbelow AS tp,
                     CAST(totp - pbelow AS DOUBLE) / (tot - below) AS praw,
                     CASE WHEN totp = 0 THEN 0.0 ELSE CAST(totp - pbelow AS DOUBLE) / totp END AS rraw
              FROM w)
            SELECT s AS threshold, kept_n, tp,
                   round_even(praw, 6) AS precision,
                   round_even(rraw, 6) AS recall,
                   round_even(CASE WHEN praw + rraw = 0 THEN 0.0
                                   ELSE 2 * praw * rraw / (praw + rraw) END, 6) AS f1
            FROM raw"""))

  // --------------------------------------------------------------- q142
  // Persisted-index search — the build-once / query-many shape (Faiss
  // write_index/read_index): q131's exact model and parameters, but the
  // corpus encode lands on disk as a cell-PARTITIONED parquet index
  // (atomic tmp+rename publish), the searcher reopens it cold, and the
  // probe set is pushed into the scan as a partition filter (only the
  // probed cell directories are read — the 100 TB serving plan). The
  // oracle is q131's verbatim: one hash proves the whole
  // build→publish→load→prune→search round trip loses nothing.
  private val q142 = Q("q142_ann_index_search",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val (cb, cbs) = ivfPqModel(e)
      val idxDir = graft.streaming.StreamHarness.scratch("ann_index_q142")
      graft.sources.AnnIndex.buildIvfPq(e, "vec_id", "embedding",
        s"$idxDir/ivfpq", cb, cbs)
      panelTopK(graft.sources.AnnIndex.load(s, s"$idxDir/ivfpq"), e)
    },
    Some(ivfPqOracle))

  // --------------------------------------------------------------- q143
  // Two-stage retrieval: IVF-PQ over-fetches k'=6 candidates per query
  // (compressed tier, q131's model), then ONLY those candidates' raw
  // vectors are fetched and reranked by exact cosine to k=3 — Faiss's
  // refine step. The exact math runs on |queries|×6 pairs, not
  // |queries|×|corpus|; the corpus is scanned once with the candidate
  // set broadcast as a join filter. The oracle replays the entire
  // compressed tier (ivfPqOracleCtes), the candidate cut, and the
  // exact-cosine rerank — a wrong ADC rank that changes WHICH k'
  // survive flips the hash even where final cosines agree.
  private val q143 = Q("q143_ann_rerank",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val (cb, cbs) = ivfPqModel(e)
      val qs = e.filter(col("vec_id") % 50 === 0)
      val cand = Pq.ivfPqTopK(qs, e, "vec_id", "embedding", cb, cbs,
        k = 6, nprobe = 4)
      Similarity.rerankTopK(cand, qs, e, "vec_id", "embedding", k = 3)
    },
    Some(ivfPqOracleCtes + s""",
            cand6 AS (SELECT query_id, neighbor_id FROM r WHERE rn <= 6),
            ex AS (
              SELECT c.query_id, c.neighbor_id,
                     ${PlaneSql.cosSql("qe.embedding", "ne.embedding")} AS cos
              FROM cand6 c
              JOIN embeddings qe ON qe.vec_id = c.query_id
              JOIN embeddings ne ON ne.vec_id = c.neighbor_id),
            rr AS (
              SELECT query_id, neighbor_id, cos,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY cos DESC, neighbor_id) AS rn
              FROM ex)
            SELECT query_id, neighbor_id, round_even(cos, 6) AS cosine,
                   CAST(rn AS INT) AS rank
            FROM rr WHERE rn <= 3"""))

  // --------------------------------------------------------------- q144
  // Incremental index append — Faiss `add` / Lucene segment appends:
  // the index is built on HALF the corpus, the other half lands later
  // as an immutable appended segment (encoded against the model read
  // FROM the index, published by an atomic manifest swap), and the
  // search runs on the reopened snapshot. Per-row encode is
  // deterministic, so build(part)+append(rest) must hash-equal
  // build(all): the oracle is q131's verbatim — the same hash that
  // gates the one-shot build gates the incremental one.
  private val q144 = Q("q144_ann_index_append",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val (cb, cbs) = ivfPqModel(e)
      val idxDir = graft.streaming.StreamHarness.scratch("ann_index_q144")
      graft.sources.AnnIndex.buildIvfPq(e.filter(col("vec_id") < 250),
        "vec_id", "embedding", s"$idxDir/ivfpq", cb, cbs)
      graft.sources.AnnIndex.appendIvfPq(e.filter(col("vec_id") >= 250),
        "vec_id", "embedding", s"$idxDir/ivfpq")
      panelTopK(graft.sources.AnnIndex.load(s, s"$idxDir/ivfpq"), e)
    },
    Some(ivfPqOracle))

  // --------------------------------------------------------------- q145
  // Greedy token-budget selection — the terminal act of quality-scored
  // pretraining curation: rank every document by its DSIR score and
  // keep the best until the 12k-token budget is spent (a doc is kept
  // iff its token span STARTS inside the budget — q132's shard
  // convention, so the budget is always filled). The running sum is the
  // distributed prefix scan over the (−score, id) range order, never a
  // single-task ORDER BY window. The oracle replays the classifier
  // fit, the per-doc scoring, the DESC order, and the running sum.
  private val q145 = Q("q145_token_budget_select",
    (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
      val m = graft.operators.Dsir.fitLiteralModel(d, "text",
        col("lang") === "en", nBuckets = 4096)
      val scored = graft.operators.Pin.data(
        graft.operators.Spread.toCores(d)
          .select(col("doc_id"), TF.tokenCount(col("text")).as("n_tokens"),
            graft.operators.Dsir.scoreExpr(col("text"), m).as("_s"))
          .select(col("doc_id"), col("n_tokens"),
            col("_s.n_bigrams").as("nb"), col("_s.avg_logratio").as("score"))
          .filter(col("nb") > 0)
          .drop("nb"))
      graft.operators.Split.tokenBudgetSelect(scored, col("score"),
        col("n_tokens"), "doc_id", budget = 12000L)
    },
    Some(dsirScoreCtes(dsirAvg("round") + " AS score") + """,
            tc AS (
              SELECT doc_id,
                     CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                          t -> len(t) > 0)) AS BIGINT) AS n_tokens
              FROM documents),
            j AS (SELECT sc.doc_id, tc.n_tokens, sc.score
                  FROM sc JOIN tc USING (doc_id)),
            w AS (SELECT *,
                    CAST(coalesce(sum(n_tokens) OVER (ORDER BY score DESC, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS BIGINT) AS cum_before
                  FROM j)
            SELECT doc_id, n_tokens, score, cum_before
            FROM w WHERE cum_before < 12000"""))

  // --------------------------------------------------------------- q146
  // Index compaction — Iceberg rewriteDataFiles / Lucene merge: after
  // an append the index holds two segments; compact rewrites the live
  // union as ONE cell-partitioned segment and publishes a manifest
  // listing only it, then expire drops the now-unreachable old
  // segments. The search result must be untouched by either — q131's
  // verbatim oracle hash-gates the full lifecycle
  // (build→append→compact→expire→search).
  private val q146 = Q("q146_ann_index_compact",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val (cb, cbs) = ivfPqModel(e)
      val idxDir = graft.streaming.StreamHarness.scratch("ann_index_q146")
      val d = s"$idxDir/ivfpq"
      graft.sources.AnnIndex.buildIvfPq(e.filter(col("vec_id") < 250),
        "vec_id", "embedding", d, cb, cbs)
      graft.sources.AnnIndex.appendIvfPq(e.filter(col("vec_id") >= 250),
        "vec_id", "embedding", d)
      graft.sources.AnnIndex.compact(s, d)
      graft.sources.AnnIndex.expire(s, d)
      panelTopK(graft.sources.AnnIndex.load(s, d), e)
    },
    Some(ivfPqOracle))

  // --------------------------------------------------------------- q147
  // PII anonymization — the Dolma scrub stage: emails, dotted-quad IPs
  // and phone numbers replaced with typed placeholders, plus the
  // per-class audit counts. PII is PLANTED deterministically on
  // disjoint doc_id residues (%7 email, %11 phone, %13 IP — composite
  // residues get several classes in one document), and ALL rows are
  // returned, so the hash pins both the redactions and the
  // must-not-touch complement. The oracle replays the planting concat
  // and every regex pass verbatim (patterns are RE2-safe by design).
  private val q147 = Q("q147_pii_redact",
    (s, dir) => {
      val raw = concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact agent"), col("doc_id").cast("string"),
            lit("@example.com now"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" call 555-123-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(col("doc_id") % 13 === 0,
          concat(lit(" seen from 10.0."),
            (col("doc_id") % 256).cast("string"), lit("."),
            ((col("doc_id") * 7) % 256).cast("string")))
          .otherwise(lit("")))
      t(s, dir, "documents")
        .select(col("doc_id"), raw.as("_raw"))
        .select(col("doc_id"), TF.redactPii(col("_raw")).as("redacted"),
          TF.piiCounts(col("_raw")).as("_c"))
        .select(col("doc_id"), col("redacted"),
          col("_c.n_email").as("n_email"), col("_c.n_ip").as("n_ip"),
          col("_c.n_phone").as("n_phone"))
    },
    Some("""WITH planted AS (
              SELECT doc_id,
                     text
                     || CASE WHEN doc_id % 7 = 0
                          THEN ' contact agent' || doc_id || '@example.com now' ELSE '' END
                     || CASE WHEN doc_id % 11 = 0
                          THEN ' call 555-123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
                     || CASE WHEN doc_id % 13 = 0
                          THEN ' seen from 10.0.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256) ELSE '' END
                     AS raw
              FROM documents)
            SELECT doc_id,
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                       '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                     '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g') AS redacted,
                   CAST(len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
                   CAST(len(regexp_extract_all(raw, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
                   CAST(len(regexp_extract_all(raw, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS BIGINT) AS n_phone
            FROM planted"""))

  // --------------------------------------------------------------- q148
  // Persisted SQ8 tier — the cheap compressed index family through the
  // SAME segment/manifest lifecycle as the IVF-PQ flagship: build on
  // half the corpus, append the rest as an immutable segment (model
  // read FROM the index), reopen, search the factored dot over the
  // pinned segment union. q130's verbatim oracle hash-gates the whole
  // round trip; SQ has no cells, so segments are flat scans (the cheap
  // tier's trade - no probe pruning, 4x less scan I/O than floats).
  private val q148 = Q("q148_sq_index_search",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val m = graft.operators.Sq.fit(e, "embedding")
      val idxDir = graft.streaming.StreamHarness.scratch("sq_index_q148")
      val d = s"$idxDir/sq8"
      graft.sources.AnnIndex.buildSq(e.filter(col("vec_id") < 250),
        "vec_id", "embedding", d, m)
      graft.sources.AnnIndex.appendSq(e.filter(col("vec_id") >= 250),
        "vec_id", "embedding", d)
      panelTopKSq(graft.sources.AnnIndex.loadSq(s, d), e)
    },
    Some(sqOracle))

  // --------------------------------------------------------------- q149
  // Index balance report — Faiss's imbalance audit as a query: per-cell
  // vector counts and corpus fractions over the persisted snapshot. An
  // IVF list far above the mean is a latency AND recall hazard (every
  // query probing it scans that multiple of the codes), so this is the
  // report an operator watches before retraining the coarse codebook.
  // One nlist-bounded hash agg + a broadcast 1-row total; the oracle
  // replays the coarse assignment (the q131 ranked CTE) and both
  // report columns.
  private val q149 = Q("q149_ann_index_stats",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val (cb, cbs) = ivfPqModel(e)
      val idxDir = graft.streaming.StreamHarness.scratch("ann_index_q149")
      graft.sources.AnnIndex.buildIvfPq(e, "vec_id", "embedding",
        s"$idxDir/ivfpq", cb, cbs)
      graft.sources.AnnIndex.cellStats(
        graft.sources.AnnIndex.load(s, s"$idxDir/ivfpq"))
    },
    Some(ivfPqAssignCtes + """,
            cs AS (SELECT ci AS cell, CAST(count(*) AS BIGINT) AS n_vectors
                   FROM ranked WHERE rn = 1 GROUP BY ci),
            tt AS (SELECT CAST(sum(n_vectors) AS BIGINT) AS t FROM cs)
            SELECT CAST(cell AS INT) AS cell, n_vectors,
                   round_even(CAST(n_vectors AS DOUBLE) / t, 6) AS frac
            FROM cs CROSS JOIN tt"""))

  // --------------------------------------------------------------- q150
  // Resumable staged pipeline executed end-to-end: clean -> dedup ->
  // report, each stage landing a parquet artifact with a completion
  // marker, each downstream stage reading the PERSISTED artifact (so a
  // crash recomputes only incomplete stages - StagedPipeline's make
  // rule, spec-covered in PipelinesSpec). The registered result is the
  // final report; the oracle replays all three stages logically, so
  // the hash proves the staged execution loses nothing vs the direct
  // computation.
  private val q150 = Q("q150_staged_pipeline",
    (s, dir) => {
      import graft.pipelines.StagedPipeline.{run => runStages, Stage}
      val root = graft.streaming.StreamHarness.scratch("staged_q150")
      val out = runStages(s, s"$root/pipe", Seq(
        Stage("clean", _ => t(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            lower(trim(col("text"))).as("text"))
          .withColumn("n_tokens", TF.tokenCount(col("text")))
          .filter(col("n_tokens") >= 5)),
        Stage("dedup", st => Dedup.keepFirst(st("clean"), Seq("text"), "doc_id")),
        Stage("report", st => st("dedup").groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("n_tokens")))))
      out("report")
    },
    Some("""WITH clean AS (
              SELECT doc_id, lang, lower(trim(text)) AS text,
                     CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                          t -> len(t) > 0)) AS BIGINT) AS n_tokens
              FROM documents),
            c2 AS (SELECT * FROM clean WHERE n_tokens >= 5),
            d AS (SELECT * FROM (
                    SELECT *, row_number() OVER (PARTITION BY text
                             ORDER BY doc_id) AS rn
                    FROM c2) WHERE rn = 1)
            SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS n_tokens
            FROM d GROUP BY lang"""))

  // --------------------------------------------------------------- q151
  // URL screen — the C4/RefinedWeb crawl-side filter: host extraction,
  // registered-domain collapse (subdomains and ports fold away), and a
  // blocked-domain flag, over URLs planted deterministically per doc
  // (cdn. subdomains on %4, :8080 ports on %5, .com/.org split on %3,
  // and USERINFO evasion attempts on %7/%11 — `user:pw@` and the
  // stacked `a:b@c@`, which must be stripped to the LAST `@` so the
  // blocklist still sees the real host). The blocklist carries a
  // never-present domain too, so the hash pins absent-domain semantics
  // alongside the hits. All rows returned - the complement is gated
  // like q147.
  private val q151 = Q("q151_url_screen",
    (s, dir) => {
      val url = concat(lit("https://"),
        when(col("doc_id") % 7 === 0, lit("user:pw@")).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit("a:b@c@")).otherwise(lit("")),
        when(col("doc_id") % 4 === 0, lit("cdn.")).otherwise(lit("")),
        lit("site"), (col("doc_id") % 17).cast("string"),
        when(col("doc_id") % 3 === 0, lit(".example.com"))
          .otherwise(lit(".example.org")),
        when(col("doc_id") % 5 === 0, lit(":8080")).otherwise(lit("")),
        lit("/p/"), col("doc_id").cast("string"))
      t(s, dir, "documents")
        .select(col("doc_id"), url.as("_url"))
        .select(col("doc_id"),
          TF.urlHost(col("_url")).as("host"),
          TF.registeredDomain(TF.urlHost(col("_url"))).as("domain"),
          TF.domainBlocked(col("_url"),
            Seq("example.org", "spam.test")).as("blocked"))
    },
    Some("""WITH u AS (
              SELECT doc_id,
                     'https://' ||
                     CASE WHEN doc_id % 7 = 0 THEN 'user:pw@' ELSE '' END ||
                     CASE WHEN doc_id % 11 = 0 THEN 'a:b@c@' ELSE '' END ||
                     CASE WHEN doc_id % 4 = 0 THEN 'cdn.' ELSE '' END ||
                     'site' || (doc_id % 17) ||
                     CASE WHEN doc_id % 3 = 0 THEN '.example.com' ELSE '.example.org' END ||
                     CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END ||
                     '/p/' || doc_id AS url
              FROM documents),
            h AS (
              SELECT doc_id, url,
                     nullif(regexp_replace(
                       regexp_extract(lower(url), '^https?://([^/?#]+)', 1),
                       '^.*@', ''), '') AS host
              FROM u),
            d AS (
              SELECT doc_id, url, host,
                     nullif(regexp_extract(regexp_replace(host, ':[0-9]+$', ''),
                                           '([^.]+\.[^.]+)$', 1), '') AS domain
              FROM h)
            SELECT doc_id, host, domain,
                   coalesce(domain IN ('example.org', 'spam.test'), false) AS blocked
            FROM d"""))

  // --------------------------------------------------------------- q152
  // Index takedown — the first lifecycle verb after append that a real
  // deployment needs (GDPR erasure, licence eviction): the index is
  // built on the corpus PLUS a full decoy twin (every vector duplicated
  // at id+1000000 — before the delete, each decoy ties its original on
  // ADC distance, so an unmasked decoy WOULD displace real neighbors),
  // then the decoys are tombstoned out and the standard search runs.
  // The result must hash-equal q131's verbatim oracle over the clean
  // corpus — one hash proves the tombstones mask every decoy row at
  // scan and nothing else.
  private val q152 = Q("q152_ann_index_delete",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val (cb, cbs) = ivfPqModel(e)
      val idxDir = graft.streaming.StreamHarness.scratch("ann_index_q152")
      val d = s"$idxDir/ivfpq"
      val decoys = e.withColumn("vec_id", col("vec_id") + lit(1000000L))
      graft.sources.AnnIndex.buildIvfPq(e.unionByName(decoys), "vec_id",
        "embedding", d, cb, cbs)
      graft.sources.AnnIndex.delete(decoys.select(col("vec_id")), "vec_id", d)
      panelTopK(graft.sources.AnnIndex.load(s, d), e)
    },
    Some(ivfPqOracle))

  // --------------------------------------------------------------- q153
  // Production-shaped index SERVING: a FIXED literal query panel (what
  // an online endpoint actually receives — panel size independent of
  // corpus size, unlike the corpus-derived %50 residue audits, whose
  // query count grows with the data) served from the persisted IVF-PQ
  // snapshot, with per-query recall@3 against the exact brute-force
  // top-3 on the SAME panel. This is the shape BASELINE.md argues stays
  // corpus-linear at scale — registered and ScaleStress-measured
  // instead of argued. The oracle replays the whole compressed tier for
  // the literal panel (the parameterized q131 chain), the exact ground
  // truth, and the overlap count.
  private val annPanelIds = Seq(0L, 63L, 150L, 221L, 305L, 350L, 441L, 499L)

  private val q153 = Q("q153_ann_index_serve",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val (cb, cbs) = ivfPqModel(e)
      val idxDir = graft.streaming.StreamHarness.scratch("ann_index_q153")
      val d = s"$idxDir/ivfpq"
      graft.sources.AnnIndex.buildIvfPq(e, "vec_id", "embedding", d, cb, cbs)
      val idx = graft.sources.AnnIndex.load(s, d)
      val panel = e.filter(col("vec_id").isin(annPanelIds: _*))
      val ann = graft.sources.AnnIndex.topK(idx, panel, "vec_id",
          "embedding", k = 3, nprobe = 4)
        .select(col("query_id"), col("neighbor_id"))
      recallAt3(panel, bruteTop3(panel, e), ann)
    },
    Some(s"""${ivfPqOracleCtesFor(
        s"vec_id IN (${annPanelIds.mkString(", ")})")},
            ann AS (SELECT query_id, neighbor_id FROM r WHERE rn <= 3),
            qs AS (SELECT vec_id, embedding FROM embeddings
                   WHERE vec_id IN (${annPanelIds.mkString(", ")})),
            $qsBruteTop3Ctes,
            ${recallSql("ann")}"""))

  // --------------------------------------------------------------- q154
  // Image content near-dup — the media twin of the q32 SimHash family:
  // a difference hash (dHash, the pHash family's cheap member) packs
  // each payload's 65-cell mean-brightness profile into ONE long, and
  // the SAME 4x16-bit chunk blocking join that serves text SimHash
  // finds hamming<=3 pairs (pigeonhole-complete, bit_count verify).
  // Twins are PLANTED: half the media get a copy (id+500000) whose
  // payload differs in exactly the trailing two bytes (same length, so
  // cell spans align and only the last cells' means move) — every twin
  // pair must surface at hamming <= 3 while unrelated media (random
  // text bodies, ~32 bits apart) must not. The luminance extractor is
  // the environment-stubbed step (raw bytes as deterministic fake
  // grayscale); the oracle replays the byte rebuild, the 65-cell means,
  // the 64 difference bits, the chunk blocking, and the hamming verify.
  private val q154 = Q("q154_media_neardup",
    (s, dir) => {
      import graft.multimodal.Multimodal
      val base = t(s, dir, "documents")
        .filter(col("doc_id") % 3 === 2 && col("doc_id") < 600)
        .select(col("doc_id"), col("text"))
      val twins = base.filter(col("doc_id") % 6 === 2)
        .select(col("doc_id"),
          concat(col("text").substr(lit(1), length(col("text")) - 2),
            lit("zq")).as("text"))
      val media = Multimodal.asMedia(base, "doc_id", "text")
        .unionByName(Multimodal.asMedia(twins, "doc_id", "text")
          .withColumn("media_id", col("media_id") + lit(500000L)))
      Multimodal.mediaNearDups(media, "payload", "media_id", maxHamming = 3)
    },
    Some("""WITH base AS (
              SELECT doc_id, text FROM documents
              WHERE doc_id % 3 = 2 AND doc_id < 600),
            m AS (
              SELECT doc_id AS media_id, doc_id AS hid, text FROM base
              UNION ALL
              SELECT doc_id + 500000 AS media_id, doc_id AS hid,
                     substr(text, 1, len(text) - 2) || 'zq' AS text
              FROM base WHERE doc_id % 6 = 2),
            hx AS (
              SELECT media_id,
                     '474946383961'
                     || printf('%02X', (hid % 1920 + 1) % 256) || printf('%02X', (hid % 1920 + 1) // 256)
                     || printf('%02X', (hid % 1080 + 1) % 256) || printf('%02X', (hid % 1080 + 1) // 256)
                     || hex(encode(text)) AS hs
              FROM m),
            bys AS (SELECT media_id, len(hs) // 2 AS n, hs FROM hx),
            bv AS (SELECT media_id, hs, n, unnest(range(1, n + 1)) AS i FROM bys),
            vals AS (
              SELECT media_id, ('0x' || substr(hs, CAST(2*i - 1 AS INT), 2))::INT AS v,
                     ((i - 1) * 65) // n AS cell
              FROM bv),
            cm AS (SELECT media_id, cell, avg(v) AS mean FROM vals GROUP BY 1, 2),
            jj AS (SELECT unnest(range(0, 64)) AS j),
            ids AS (SELECT DISTINCT media_id FROM bys),
            cj AS (
              SELECT ids.media_id, jj.j,
                     coalesce(c0.mean, 0) AS m0, coalesce(c1.mean, 0) AS m1
              FROM ids CROSS JOIN jj
              LEFT JOIN cm c0 ON c0.media_id = ids.media_id AND c0.cell = jj.j
              LEFT JOIN cm c1 ON c1.media_id = ids.media_id AND c1.cell = jj.j + 1),
            bits AS (SELECT media_id, j, CASE WHEN m1 > m0 THEN 1 ELSE 0 END AS bit FROM cj),
            ch AS (SELECT media_id, (63 - j) // 16 AS chunk,
                          CAST(sum(bit << CAST((63 - j) % 16 AS INT)) AS BIGINT) AS ch_val
                   FROM bits GROUP BY 1, 2),
            cand AS (SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b
                     FROM ch a JOIN ch b ON a.chunk = b.chunk AND a.ch_val = b.ch_val
                                         AND a.media_id < b.media_id),
            hm AS (SELECT c.id_a, c.id_b,
                          CAST(sum(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END) AS INT) AS hamming
                   FROM cand c
                   JOIN bits ba ON ba.media_id = c.id_a
                   JOIN bits bb ON bb.media_id = c.id_b AND bb.j = ba.j
                   GROUP BY 1, 2)
            SELECT id_a, id_b, hamming FROM hm WHERE hamming <= 3"""))

  // --------------------------------------------------------------- q155
  // SQ8 CELL-PARTITIONED layout — one layout, both read paths: the
  // cheap tier built WITH the IVF coarse quantizer (q128's 16-cell
  // codebook), so segments carry a `cell` column, clustered by it, and
  // topKSq gains the probe-pruned read (the q142 scan shape — AnnIndexSpec
  // asserts the filter reaches the segment scan as a pushed `cell` filter
  // that skips unprobed cells' row groups), while the DEFAULT full scan registered here
  // must stay hash-identical to the flat layout: q130's verbatim oracle
  // gates build(half, cells)+append(rest)+reopen+full-search — the cell
  // column is pure layout, zero semantic drift.
  private val q155 = Q("q155_sq_cell_search",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val m = graft.operators.Sq.fit(e, "embedding")
      val (cb, _) = ivfPqModel(e)
      val idxDir = graft.streaming.StreamHarness.scratch("sq_cell_q155")
      val d = s"$idxDir/sq8c"
      graft.sources.AnnIndex.buildSq(e.filter(col("vec_id") < 250),
        "vec_id", "embedding", d, m, Some(cb))
      graft.sources.AnnIndex.appendSq(e.filter(col("vec_id") >= 250),
        "vec_id", "embedding", d)
      panelTopKSq(graft.sources.AnnIndex.loadSq(s, d), e)
    },
    Some(sqOracle))

  // --------------------------------------------------------------- q156
  // The PRUNED SQ read path oracle-gated (q155's other read mode, until
  // now only plan-asserted): the fixed 8-id panel probes its nprobe=1
  // nearest coarse cells, the scan is restricted to the probed CELLS
  // (a pushed parquet `cell` filter — 6 of 16 cells at sf0.01),
  // and the factored SQ dot ranks only what was scanned. The semantic
  // is "global probed-cell union, exact-over-the-remainder": a vector
  // in an unprobed cell can never surface, which is exactly what the
  // oracle replays — coarse assignment (the q131 ranked CTE), the
  // panel's probe set, the candidate restriction ON THE CODES SIDE,
  // then the q130 scoring chain verbatim. One wrong cell route, one
  // unpruned row, or one pruned-away true neighbor flips the hash.
  private val q156 = Q("q156_sq_pruned_search",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val m = graft.operators.Sq.fit(e, "embedding")
      val (cb, _) = ivfPqModel(e)
      val idxDir = graft.streaming.StreamHarness.scratch("sq_prune_q156")
      val d = s"$idxDir/sq8c"
      graft.sources.AnnIndex.buildSq(e, "vec_id", "embedding", d, m, Some(cb))
      val idx = graft.sources.AnnIndex.loadSq(s, d)
      graft.sources.AnnIndex.topKSq(idx,
        e.filter(col("vec_id").isin(annPanelIds: _*)),
        "vec_id", "embedding", k = 3, nprobe = 1, prune = true)
    },
    Some(ivfPqAssignCtes + s""",
            probe AS (SELECT DISTINCT ci FROM ranked
                      WHERE vec_id IN (${annPanelIds.mkString(", ")}) AND rn <= 1),
            acell AS (SELECT vec_id, ci FROM ranked WHERE rn = 1),
            cand AS (SELECT vec_id FROM acell
                     WHERE ci IN (SELECT ci FROM probe)),
            ${sqScoringCtes(
              s"vec_id IN (${annPanelIds.mkString(", ")})",
              "JOIN cand ON cand.vec_id = e.vec_id")}"""))

  // --------------------------------------------------------------- q157
  // Snapshot TIME TRAVEL oracle-gated (until now spec-only): the index
  // is built on the clean corpus (generation 0), then a full DECOY TWIN
  // is appended (generation 1, every vector duplicated at id+1000000 —
  // each decoy ties its original on ADC distance, so a leaky snapshot
  // WOULD surface decoys as neighbors), and the search runs on
  // `load(asOf = 0)` — the reader pinned BEFORE the append. The result
  // must hash-equal q131's verbatim oracle over the clean corpus: one
  // hash proves a pinned manifest generation sees exactly its own
  // segments, nothing newer (Iceberg/Delta VERSION AS OF).
  private val q157 = Q("q157_ann_time_travel",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val (cb, cbs) = ivfPqModel(e)
      val idxDir = graft.streaming.StreamHarness.scratch("ann_tt_q157")
      val d = s"$idxDir/ivfpq"
      graft.sources.AnnIndex.buildIvfPq(e, "vec_id", "embedding", d, cb, cbs)
      graft.sources.AnnIndex.appendIvfPq(
        e.withColumn("vec_id", col("vec_id") + lit(1000000L)),
        "vec_id", "embedding", d)
      val pinned = graft.sources.AnnIndex.load(s, d, asOf = Some(0L))
      graft.sources.AnnIndex.topK(pinned, e.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", k = 3, nprobe = 4)
    },
    Some(ivfPqOracle))

  // --------------------------------------------------------------- q158
  // Delete → COMPACT → EXPIRE lifecycle gated end-to-end: q152's
  // takedown (corpus + decoy twin, decoys tombstoned) followed by the
  // maintenance pass — compact physically drops every masked row and
  // clears the tombstone sets, expire reclaims the retired segments and
  // tombstone files — and the search on the reopened single-segment
  // index must STILL hash-equal q131's verbatim oracle. One hash proves
  // the physical purge loses nothing a reader could see and resurrects
  // nothing it couldn't.
  private val q158 = Q("q158_ann_delete_compact",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val (cb, cbs) = ivfPqModel(e)
      val idxDir = graft.streaming.StreamHarness.scratch("ann_dc_q158")
      val d = s"$idxDir/ivfpq"
      val decoys = e.withColumn("vec_id", col("vec_id") + lit(1000000L))
      graft.sources.AnnIndex.buildIvfPq(e.unionByName(decoys), "vec_id",
        "embedding", d, cb, cbs)
      graft.sources.AnnIndex.delete(decoys.select(col("vec_id")), "vec_id", d)
      graft.sources.AnnIndex.compact(s, d)
      graft.sources.AnnIndex.expire(s, d)
      panelTopK(graft.sources.AnnIndex.load(s, d), e)
    },
    Some(ivfPqOracle))

  // --------------------------------------------------------------- q159
  // FILTERED vector search — the metadata-predicate query every
  // production vector deployment serves ("nearest WHERE lang='en'"):
  // the allowed-id set (label < 5, half the corpus) is semi-joined into
  // the persisted index's codes scan BEFORE ranking, so each query
  // still returns k ALLOWED neighbors (pre-filter semantics —
  // post-filtering a plain top-k would silently return fewer). The
  // oracle is q131's chain with the candidate set masked by the same
  // predicate: a disallowed neighbor anywhere in any top-3, or a rank
  // shifted by an unmasked candidate, flips the hash.
  private val q159 = Q("q159_ann_filtered_search",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val (cb, cbs) = ivfPqModel(e)
      val idxDir = graft.streaming.StreamHarness.scratch("ann_filter_q159")
      val d = s"$idxDir/ivfpq"
      graft.sources.AnnIndex.buildIvfPq(e, "vec_id", "embedding", d, cb, cbs)
      val idx = graft.sources.AnnIndex.load(s, d)
      graft.sources.AnnIndex.topKWhere(idx,
        e.filter(col("vec_id") % 50 === 0), "vec_id", "embedding",
        allowed = e.filter(col("label") < 5), allowedIdCol = "vec_id",
        k = 3, nprobe = 4)
    },
    Some(ivfPqOracleCtesFor("vec_id % 50 = 0",
      "t.vec_id IN (SELECT vec_id FROM embeddings WHERE label < 5)") +
      adcTop3Select))

  // --------------------------------------------------------------- q160
  // Snapshot RETENTION under maintenance (Iceberg expire_snapshots
  // retain_last): the index carries three generations — the combined
  // build (corpus + decoy twin), the takedown that tombstones the
  // decoys, and a SECOND decoy wave appended after it — then
  // expire(keepLast = 2) reclaims the oldest generation's manifest
  // while keeping the takedown generation a valid time-travel target.
  // The gated read pins THAT retained middle generation: it must see
  // the corpus with the first decoys masked and the second wave not
  // yet in existence — q131's verbatim oracle over the clean corpus.
  // An expire that over-reclaims (the round-13 all-or-nothing drop)
  // makes the pinned read throw; an asOf that leaks either decoy wave
  // flips the hash (each decoy ties its original on ADC distance).
  private val q160 = Q("q160_ann_retention",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val (cb, cbs) = ivfPqModel(e)
      val idxDir = graft.streaming.StreamHarness.scratch("ann_ret_q160")
      val d = s"$idxDir/ivfpq"
      val decoys = e.withColumn("vec_id", col("vec_id") + lit(1000000L))
      graft.sources.AnnIndex.buildIvfPq(e.unionByName(decoys), "vec_id",
        "embedding", d, cb, cbs)                                      // m-0
      graft.sources.AnnIndex.delete(decoys.select(col("vec_id")),
        "vec_id", d)                                                  // m-1
      graft.sources.AnnIndex.appendIvfPq(
        e.withColumn("vec_id", col("vec_id") + lit(2000000L)),
        "vec_id", "embedding", d)                                     // m-2
      graft.sources.AnnIndex.expire(s, d, keepLast = 2)
      val pinned = graft.sources.AnnIndex.load(s, d, asOf = Some(1L))
      graft.sources.AnnIndex.topK(pinned, e.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", k = 3, nprobe = 4)
    },
    Some(ivfPqOracle))

  // --------------------------------------------------------------- q161
  // MODEL-DRIFT MIGRATION gated: the index is first built with a
  // deliberately-wrong model (centroids/codebooks fitted on the
  // REVERSED vectors — valid shapes, poor fit), then retrain()
  // re-encodes the corpus against the true q131 model INTO THE SAME
  // MANIFEST CHAIN (generation 1, model version 1). The search on the
  // migrated index must hash-equal q131's verbatim oracle — i.e.
  // retrain(corpus) ≡ buildIvfPq(corpus), the contract that makes the
  // migration safe to run in place: pinned pre-retrain readers keep
  // the old model (AnnIndexConcurrencySpec pins that), and one
  // residual code or probe route from the stale model flips the hash.
  private val q161 = Q("q161_ann_retrain",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val (cb, cbs) = ivfPqModel(e)
      val (badCb, badCbs) = ivfPqModel(
        e.select(col("vec_id"), reverse(col("embedding")).as("embedding")))
      val idxDir = graft.streaming.StreamHarness.scratch("ann_rt_q161")
      val d = s"$idxDir/ivfpq"
      graft.sources.AnnIndex.buildIvfPq(e, "vec_id", "embedding", d,
        badCb, badCbs)
      graft.sources.AnnIndex.retrain(e, "vec_id", "embedding", d, cb, cbs)
      panelTopK(graft.sources.AnnIndex.load(s, d), e)
    },
    Some(ivfPqOracle))

  // --------------------------------------------------------------- q162
  // q159's TINY-ALLOWLIST twin: the allowed set is 5 ids (one per 100
  // — a takedown review set, not a population), which trips
  // topKWhere's escape hatch: the mask is collected once and
  // re-planted as a broadcast LITERAL (no allowed-side subplan inside
  // the search join), while probe pruning and the nprobe ranking
  // semantics stay exactly q159's — so the oracle is the same chain
  // with the candidate predicate swapped, and a hatch that changed
  // semantics (extra candidates, lost self-exclusion, wrong cell
  // routing) flips the hash.
  private val q162 = Q("q162_ann_filtered_tiny",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val (cb, cbs) = ivfPqModel(e)
      val idxDir = graft.streaming.StreamHarness.scratch("ann_tiny_q162")
      val d = s"$idxDir/ivfpq"
      graft.sources.AnnIndex.buildIvfPq(e, "vec_id", "embedding", d, cb, cbs)
      val idx = graft.sources.AnnIndex.load(s, d)
      graft.sources.AnnIndex.topKWhere(idx,
        e.filter(col("vec_id") % 50 === 0), "vec_id", "embedding",
        allowed = e.filter(col("vec_id") % 100 === 0),
        allowedIdCol = "vec_id", k = 3, nprobe = 4)
    },
    Some(ivfPqOracleCtesFor("vec_id % 50 = 0", "t.vec_id % 100 = 0") +
      adcTop3Select))

  // --------------------------------------------------------------- q163
  // Filtered search on the CHEAP tier (q159's SQ8 twin): the persisted
  // SQ index is built on the full corpus (the affine model is fitted
  // on everything — mask-at-read must score each allowed row exactly
  // as the unfiltered scan would), then topKWhereSq semi-joins the
  // allowed-id set (label < 5, half the corpus) into the codes scan
  // BEFORE the factored-dot ranking. The oracle is the q130 scoring
  // chain with the candidate restriction on the CODES side — one
  // disallowed neighbor, one shifted rank, or a model refitted on the
  // masked subset (the subtle wrong way to build this) flips the hash.
  private val q163 = Q("q163_sq_filtered_search",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val m = graft.operators.Sq.fit(e, "embedding")
      val idxDir = graft.streaming.StreamHarness.scratch("sq_filter_q163")
      val d = s"$idxDir/sq8"
      graft.sources.AnnIndex.buildSq(e, "vec_id", "embedding", d, m)
      val idx = graft.sources.AnnIndex.loadSq(s, d)
      graft.sources.AnnIndex.topKWhereSq(idx,
        e.filter(col("vec_id") % 50 === 0), "vec_id", "embedding",
        allowed = e.filter(col("label") < 5), allowedIdCol = "vec_id",
        k = 3)
    },
    Some("WITH " + sqScoringCtes("vec_id % 50 = 0",
      "JOIN (SELECT vec_id FROM embeddings WHERE label < 5) cand " +
        "ON cand.vec_id = e.vec_id")))

  // --------------------------------------------------------------- q164
  // Model-drift migration on the CHEAP tier (q161's SQ8 twin): the
  // index is first built with an affine model fitted on a 100-row
  // SUBSET (valid dim, too-narrow ranges — out-of-range dimensions
  // clamp, so its codes genuinely differ), then retrainSq re-fits on
  // the full corpus and re-encodes into the same manifest chain. The
  // migrated search must hash-equal q130's verbatim SQ oracle (whose
  // mm CTE is exactly the full-corpus min/max fit) — i.e.
  // retrainSq(corpus) ≡ buildSq(corpus); one stale clamp range flips
  // the hash.
  private val q164 = Q("q164_sq_retrain",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val badM = graft.operators.Sq.fit(
        e.filter(col("vec_id") < 100), "embedding")
      val m = graft.operators.Sq.fit(e, "embedding")
      val idxDir = graft.streaming.StreamHarness.scratch("sq_rt_q164")
      val d = s"$idxDir/sq8"
      graft.sources.AnnIndex.buildSq(e, "vec_id", "embedding", d, badM)
      graft.sources.AnnIndex.retrainSq(e, "vec_id", "embedding", d, m)
      val idx = graft.sources.AnnIndex.loadSq(s, d)
      graft.sources.AnnIndex.topKSq(idx,
        e.filter(col("vec_id") % 50 === 0), "vec_id", "embedding", k = 3)
    },
    Some(sqOracle))

  // --------------------------------------------------------------- q165
  // SHARD-FEDERATION merge gated: the 100 TB build recipe is "train
  // ONE model, build a shard per partition in parallel, merge the
  // shards without re-encoding" (Faiss merge_into / Lucene
  // addIndexes). Two half-corpus shards are built with the SAME q131
  // model, the second is merged into the first as an already-encoded
  // segment, and the search on the merged index must hash-equal q131's
  // verbatim oracle over the whole corpus — i.e. merge(build(A),
  // build(B)) ≡ build(A ∪ B), which holds exactly because per-row
  // encode is deterministic under one model and merge moves CODES, not
  // vectors. One re-encoded row, dropped shard row, or cross-model
  // code flips the hash.
  private val q165 = Q("q165_ann_shard_merge",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val (cb, cbs) = ivfPqModel(e)
      val idxDir = graft.streaming.StreamHarness.scratch("ann_merge_q165")
      val d1 = s"$idxDir/shard1"
      val d2 = s"$idxDir/shard2"
      graft.sources.AnnIndex.buildIvfPq(e.filter(col("vec_id") < 250),
        "vec_id", "embedding", d1, cb, cbs)
      graft.sources.AnnIndex.buildIvfPq(e.filter(col("vec_id") >= 250),
        "vec_id", "embedding", d2, cb, cbs)
      graft.sources.AnnIndex.merge(s, d1, d2)
      panelTopK(graft.sources.AnnIndex.load(s, d1), e)
    },
    Some(ivfPqOracle))

  // --------------------------------------------------------------- q166
  // Shard federation on the CHEAP tier (q165's SQ8 twin): two
  // half-corpus SQ shards encoded under ONE full-corpus affine fit
  // (shards must share the model — per-shard fits would make codes
  // incomparable, which mergeSq rejects loudly), merged without
  // re-encoding, searched; must hash-equal q130's verbatim whole-corpus
  // oracle — mergeSq(buildSq(A), buildSq(B)) ≡ buildSq(A ∪ B).
  private val q166 = Q("q166_sq_shard_merge",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val m = graft.operators.Sq.fit(e, "embedding")
      val idxDir = graft.streaming.StreamHarness.scratch("sq_merge_q166")
      val d1 = s"$idxDir/shard1"
      val d2 = s"$idxDir/shard2"
      graft.sources.AnnIndex.buildSq(e.filter(col("vec_id") < 250),
        "vec_id", "embedding", d1, m)
      graft.sources.AnnIndex.buildSq(e.filter(col("vec_id") >= 250),
        "vec_id", "embedding", d2, m)
      graft.sources.AnnIndex.mergeSq(s, d1, d2)
      val idx = graft.sources.AnnIndex.loadSq(s, d1)
      graft.sources.AnnIndex.topKSq(idx,
        e.filter(col("vec_id") % 50 === 0), "vec_id", "embedding", k = 3)
    },
    Some(sqOracle))

  // --------------------------------------------------------------- q167
  // SQ-tier PRODUCTION FILTERED SERVING — the scale path q163's gate
  // narrative names but (until now) never measured: a FIXED 8-id
  // literal query panel (the q153/q156 endpoint shape — bounded at
  // every corpus size), a FIXED 10-id literal allowlist (a takedown
  // review set / one tenant — trips topKWhereSq's broadcast-literal
  // hatch at every factor, so the allowed-side subplan never re-executes
  // inside the search join), and prune=true over the CELL layout, which
  // composes the mask semi-join UNDER the probe's pushed `cell` filter
  // (6-ish of 16 cells kept). Candidates = (probed-cell union) ∩
  // allowed, scored by the exact q130 factored dot; the oracle is
  // q156's probe chain with the allowed predicate added to the
  // candidate CTE — one unprobed cell leaking in, one disallowed
  // neighbor, or a hatch that changed ranking flips the hash. The 30×
  // BASELINE row for this is the cheap tier's production serving
  // price: build-dominated, with a probed-cells-sized read term.
  private val annAllowIds =
    Seq(0L, 50L, 100L, 150L, 200L, 250L, 300L, 350L, 400L, 450L)

  private val q167 = Q("q167_sq_filtered_serve",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val m = graft.operators.Sq.fit(e, "embedding")
      val (cb, _) = ivfPqModel(e)
      val idxDir = graft.streaming.StreamHarness.scratch("sq_fserve_q167")
      val d = s"$idxDir/sq8c"
      graft.sources.AnnIndex.buildSq(e, "vec_id", "embedding", d, m, Some(cb))
      val idx = graft.sources.AnnIndex.loadSq(s, d)
      graft.sources.AnnIndex.topKWhereSq(idx,
        e.filter(col("vec_id").isin(annPanelIds: _*)), "vec_id", "embedding",
        allowed = e.filter(col("vec_id").isin(annAllowIds: _*)),
        allowedIdCol = "vec_id", k = 3, nprobe = 2, prune = true)
    },
    Some(ivfPqAssignCtes + s""",
            probe AS (SELECT DISTINCT ci FROM ranked
                      WHERE vec_id IN (${annPanelIds.mkString(", ")}) AND rn <= 2),
            acell AS (SELECT vec_id, ci FROM ranked WHERE rn = 1),
            cand AS (SELECT vec_id FROM acell
                     WHERE ci IN (SELECT ci FROM probe)
                       AND vec_id IN (${annAllowIds.mkString(", ")})),
            ${sqScoringCtes(
              s"vec_id IN (${annPanelIds.mkString(", ")})",
              "JOIN cand ON cand.vec_id = e.vec_id")}"""))

  /** `e.embedding` unit-normalized (a zero vector kept as it is): the
    * sub-centroid seeds of q168 and [[splitPolicyCtes]]. */
  private lazy val unitEmbeddingSql: String = """CASE WHEN sqrt(list_sum(list_transform(e.embedding,
                            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) = 0
                          THEN list_transform(e.embedding,
                            x -> CAST(x AS DOUBLE))
                          ELSE list_transform(e.embedding,
                            x -> CAST(x AS DOUBLE) /
                              sqrt(list_sum(list_transform(e.embedding,
                                y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))))
                     END"""

  /** `hot`: the cell with the most home vectors (lowest id on ties) —
    * the cell a split retires (q168, and [[splitPolicyCtes]]). */
  private lazy val hotCellCte: String = """hot AS (SELECT ci AS hc FROM (
                      SELECT ci, count(*) AS c FROM ranked WHERE rn = 1
                      GROUP BY ci)
                    ORDER BY c DESC, ci LIMIT 1)"""

  /** `assign`: each vector's cell after the split — a `hot` member
    * moves to its nearer `cb2` entry, every other vector stays put. */
  private lazy val splitAssignCte: String = """assign AS (
              SELECT o.vec_id,
                     CASE WHEN o.ci = hot.hc THEN n.ci ELSE o.ci END AS cell
              FROM (SELECT vec_id, ci FROM ranked WHERE rn = 1) o
              JOIN (SELECT vec_id, ci FROM ranked2 WHERE rn = 1) n
                USING (vec_id)
              CROSS JOIN hot)"""

  /** The post-split re-encode and ADC replay of q168 and q169: `dots2`
    * and `ranked2` route every vector over the grown table `cb2`, rows
    * re-encode against codebooks derived from the ORIGINAL residuals,
    * and the panel probes 4 of the 17 cells. */
  private lazy val splitAdcCtes: String = s"""dots2 AS (
              SELECT ev.vec_id, nc.ci,
                     list_sum(list_transform(range(1, 65),
                       i -> CAST(ev.embedding[i] AS DOUBLE) * nc.cv[i])) *
                     (CASE WHEN ev.nv = 0 THEN 0.0 ELSE 1.0 / sqrt(ev.nv) END) AS dp
              FROM ev CROSS JOIN cb2 nc),
            ranked2 AS (
              SELECT vec_id, ci, row_number() OVER (PARTITION BY vec_id
                       ORDER BY dp DESC, ci) AS rn
              FROM dots2),
            $splitAssignCte,
            $pqResidCtes,
            resid2 AS (
              SELECT a.vec_id, a.cell,
                     list_transform(range(1, 65),
                       i -> CAST(e.embedding[i] AS DOUBLE) - nc.cv[i]) AS rv
              FROM assign a
              JOIN embeddings e ON e.vec_id = a.vec_id
              JOIN cb2 nc ON nc.ci = a.cell),
            ndist2 AS (
              SELECT t.vec_id, p.s, p.c2,
                     list_sum(list_transform(range(1, 9),
                       i -> (t.rv[p.s * 8 + i] - p.cw[i]) *
                            (t.rv[p.s * 8 + i] - p.cw[i]))) AS d
              FROM resid2 t CROSS JOIN pcb p),
            enc2 AS (SELECT vec_id, s, c2 AS code FROM (
                       SELECT vec_id, s, c2, row_number() OVER (
                                PARTITION BY vec_id, s ORDER BY d ASC, c2) AS rn
                       FROM ndist2) WHERE rn = 1),
            qcell2 AS (SELECT vec_id AS query_id, ci AS cell FROM ranked2
                       WHERE (vec_id % 50 = 0) AND rn <= 4),
            qresid2 AS (
              SELECT qc.query_id, qc.cell,
                     list_transform(range(1, 65),
                       i -> CAST(e.embedding[i] AS DOUBLE) - nc.cv[i]) AS rv
              FROM qcell2 qc
              JOIN embeddings e ON e.vec_id = qc.query_id
              JOIN cb2 nc ON nc.ci = qc.cell),
            qdist2 AS (
              SELECT qr.query_id, qr.cell, p.s, p.c2,
                     list_sum(list_transform(range(1, 9),
                       i -> (qr.rv[p.s * 8 + i] - p.cw[i]) *
                            (qr.rv[p.s * 8 + i] - p.cw[i]))) AS d
              FROM qresid2 qr CROSS JOIN pcb p),
            cand2 AS (
              SELECT q.query_id, t.vec_id AS neighbor_id, q.cell
              FROM qcell2 q JOIN assign t USING (cell)
              WHERE q.query_id <> t.vec_id),
            adc2 AS (
              SELECT c.query_id, c.neighbor_id,
                     list_sum(list(qd.d ORDER BY qd.s)) AS adist
              FROM cand2 c
              JOIN enc2 n ON n.vec_id = c.neighbor_id
              JOIN qdist2 qd ON qd.query_id = c.query_id AND qd.cell = c.cell
                            AND qd.s = n.s AND qd.c2 = n.code
              GROUP BY c.query_id, c.neighbor_id),
            r AS (SELECT query_id, neighbor_id, adist,
                         row_number() OVER (PARTITION BY query_id
                           ORDER BY adist ASC, neighbor_id) AS rn
                  FROM adc2)""" + adcTop3Select

  // --------------------------------------------------------------- q168
  // Cell-skew remediation: the corpus's HOTTEST coarse cell (cellStats'
  // max-population row — real embeddings cluster, so one posting list
  // grows until every probe routed to it scans a data-sized partition)
  // is split in place: its rows re-assign against two deterministic
  // sub-centroids (the cell's first two member vectors, normalized —
  // the same derivation convention as the build model), the centroid
  // table is rewritten with sub-0 in the old slot and sub-1 appended
  // as a NEW cell (no other cell id shifts, no other segment's codes
  // re-encode), and one manifest swap publishes tombstone + re-keyed
  // segment + bumped model version. The post-split search must match
  // the oracle's full replay: assignment under the ORIGINAL model,
  // hot-membership, the sub-centroid re-rank over the post-split
  // centroid list, codebooks still derived from the ORIGINAL residuals
  // (the split never refits codebooks), per-cell re-encode, probe
  // routing over 17 cells, and the ADC sum — a row left under the
  // retired centroid, a shifted cell id, or a refit codebook flips
  // the hash.
  private val q168 = Q("q168_ann_split_cell",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val (cb, cbs) = ivfPqModel(e)
      val idxDir = graft.streaming.StreamHarness.scratch("ann_split_q168")
      val d = s"$idxDir/ivfpq"
      graft.sources.AnnIndex.buildIvfPq(e, "vec_id", "embedding", d, cb, cbs)
      val idx0 = graft.sources.AnnIndex.load(s, d)
      // hottest cell, tie-broken by id — parameter-sized collect
      val hot = graft.sources.AnnIndex.cellStats(idx0)
        .orderBy(col("n_vectors").desc, col("cell")).select(col("cell"))
        .first().getInt(0)
      // deterministic sub-centroids: the cell's first two member
      // vectors (by id), normalized — replayable by the oracle; a
      // production caller would k-means the cell's members instead
      val subIds = idx0.codes.filter(col("_cell") === hot)
        .select(col("neighbor_id")).orderBy("neighbor_id").limit(2)
        .collect().map(_.getLong(0))
      val subs = e.filter(col("vec_id").isin(subIds.map(Long.box): _*))
        .orderBy("vec_id")
        .select(graft.functions.VectorFunctions.normalize(col("embedding"))
          .as("v"))
        .collect().map(_.getSeq[Double](0).toArray)
      graft.sources.AnnIndex.splitCell(e, "vec_id", "embedding", d, hot, subs)
      panelTopK(graft.sources.AnnIndex.load(s, d), e)
    },
    Some(ivfPqAssignCtes + s""",
            $hotCellCte,
            subsrc AS (SELECT r.vec_id,
                              row_number() OVER (ORDER BY r.vec_id) AS rs
                       FROM ranked r, hot
                       WHERE r.rn = 1 AND r.ci = hot.hc
                       ORDER BY r.vec_id LIMIT 2),
            subcv AS (
              SELECT s.rs,
                     $unitEmbeddingSql AS cv
              FROM subsrc s JOIN embeddings e ON e.vec_id = s.vec_id),
            cb2 AS (SELECT ci, cv FROM cb, hot WHERE ci <> hot.hc
                    UNION ALL
                    SELECT hot.hc AS ci, s.cv FROM subcv s, hot WHERE s.rs = 1
                    UNION ALL
                    SELECT 17 AS ci, s.cv FROM subcv s WHERE s.rs = 2),
            $splitAdcCtes"""))

  /** The split-POLICY derivation replayed in SQL — shared by q169
    * (IVF-PQ tier) and q170 (SQ tier): hottest-cell pick off the
    * `ranked` original assignment, min-id seed A, least-cosine seed B,
    * one assignment pass, 1e-6-rounded re-normalized group means, and
    * the grown 17-entry centroid table `cb2` (sub-0 in the hot slot,
    * sub-1 appended). Matches [[graft.sources.AnnIndex.rebalance]]'s
    * derivation bit for bit (see its rounding note). */
  private lazy val splitPolicyCtes: String = hotCellCte + """,
            memv AS (
              SELECT r.vec_id,
                     """ + unitEmbeddingSql + """ AS v
              FROM ranked r
              JOIN embeddings e ON e.vec_id = r.vec_id
              CROSS JOIN hot
              WHERE r.rn = 1 AND r.ci = hot.hc),
            seeda AS (SELECT v FROM memv ORDER BY vec_id LIMIT 1),
            seedb AS (SELECT m.v FROM memv m, seeda a
                      ORDER BY list_sum(list_transform(range(1, 65),
                        i -> m.v[i] * a.v[i])) ASC, m.vec_id ASC
                      LIMIT 1),
            grp AS (
              SELECT m.vec_id, m.v,
                     CASE WHEN list_sum(list_transform(range(1, 65),
                            i -> m.v[i] * a.v[i])) >=
                          list_sum(list_transform(range(1, 65),
                            i -> m.v[i] * b.v[i]))
                          THEN 0 ELSE 1 END AS g
              FROM memv m, seeda a, seedb b),
            gmean AS (
              SELECT g, p.pos, round_even(avg(v[p.pos]), 6) AS mv
              FROM grp CROSS JOIN (SELECT unnest(range(1, 65)) AS pos) p
              GROUP BY g, p.pos),
            gvec AS (SELECT g, list(mv ORDER BY pos) AS m
                     FROM gmean GROUP BY g),
            subcv AS (
              SELECT g AS rs,
                     CASE WHEN sqrt(list_sum(list_transform(m,
                            x -> x * x))) = 0 THEN m
                          ELSE list_transform(m, x -> x /
                            sqrt(list_sum(list_transform(m, y -> y * y))))
                     END AS cv
              FROM gvec),
            cb2 AS (SELECT ci, cv FROM cb, hot WHERE ci <> hot.hc
                    UNION ALL
                    SELECT hot.hc AS ci, s.cv FROM subcv s, hot WHERE s.rs = 0
                    UNION ALL
                    SELECT 17 AS ci, s.cv FROM subcv s WHERE s.rs = 1),"""

  // --------------------------------------------------------------- q169
  // Imbalance-gated split POLICY (AnnIndex.rebalance — the maintenance
  // brain over q168's splitCell verb): read cellStats, pick the worst
  // over-bar cell (hottest-first, id-tiebroken — the same rule the
  // oracle replays), derive sub-centroids by a DETERMINISTIC seeded
  // 2-means over the cell's normalized members (seed A = the min-id
  // member; seed B = the member least cosine-similar to A, min-id
  // tiebreak; one assignment pass by nearer seed; group means rounded
  // to 1e-6 half-even then re-normalized — the rounding is what makes
  // a distributed double sum bit-replayable in SQL), then run the
  // splitCell verb. maxSplits = 1 pins the oracle to ONE policy
  // iteration; bar 1.01 makes the hottest cell always qualify (a
  // perfectly uniform corpus would no-op — and fail the require
  // loudly, never silently diverge). The post-policy search must match
  // the oracle's full replay: policy cell choice, seed selection,
  // rounded group means, per-cell re-encode under the grown centroid
  // table, 17-cell probe routing, and the ADC sum.
  private val q169 = Q("q169_ann_rebalance",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val (cb, cbs) = ivfPqModel(e)
      val idxDir = graft.streaming.StreamHarness.scratch("ann_rebal_q169")
      val d = s"$idxDir/ivfpq"
      graft.sources.AnnIndex.buildIvfPq(e, "vec_id", "embedding", d, cb, cbs)
      val splits = graft.sources.AnnIndex.rebalance(e, "vec_id", "embedding",
        d, maxImbalance = 1.01, maxSplits = 1)
      require(splits == 1,
        s"rebalance found nothing to split (splits=$splits) — the corpus " +
          "is perfectly uniform and this query's oracle cannot apply")
      panelTopK(graft.sources.AnnIndex.load(s, d), e)
    },
    Some(ivfPqAssignCtes + ",\n" + splitPolicyCtes + "\n            " +
      splitAdcCtes))

  // --------------------------------------------------------------- q170
  // The SQ tier's policy twin (AnnIndex.rebalanceSq over splitCellSq):
  // same hottest-cell pick and seeded 2-means derivation as q169 —
  // splitPolicyCtes replays both tiers, because assignment is the SAME
  // coarse quantizer — but the SQ split only RE-KEYS rows (SQ codes
  // are a per-dim affine of the raw vector, cell-independent; the spec
  // asserts bit-identical codes), and the gated read is the PRUNED
  // serving path under the grown 17-cell table: nprobe=1 probes off
  // the post-split assignment (ranked2), the candidate set is the
  // probed cells' members under their post-split keys (assign), and
  // the factored-dot SQ scoring runs over exactly those candidates. A
  // row left under the retired key, a mis-derived sub-centroid, or a
  // probe routed by the old table flips the hash.
  private val q170 = Q("q170_sq_rebalance",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val m = graft.operators.Sq.fit(e, "embedding")
      val (cb, _) = ivfPqModel(e)
      val idxDir = graft.streaming.StreamHarness.scratch("sq_rebal_q170")
      val d = s"$idxDir/sq8c"
      graft.sources.AnnIndex.buildSq(e, "vec_id", "embedding", d, m, Some(cb))
      val splits = graft.sources.AnnIndex.rebalanceSq(e, "vec_id",
        "embedding", d, maxImbalance = 1.01, maxSplits = 1)
      require(splits == 1,
        s"rebalanceSq found nothing to split (splits=$splits) — the " +
          "corpus is perfectly uniform and this query's oracle cannot apply")
      val idx = graft.sources.AnnIndex.loadSq(s, d)
      graft.sources.AnnIndex.topKSq(idx, e.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", k = 3, nprobe = 1, prune = true)
    },
    Some(ivfPqAssignCtes + ",\n" + splitPolicyCtes + s"""
            ranked2 AS (
              SELECT ev.vec_id, nc.ci,
                     row_number() OVER (PARTITION BY ev.vec_id ORDER BY
                       list_sum(list_transform(range(1, 65),
                         i -> CAST(ev.embedding[i] AS DOUBLE) * nc.cv[i])) *
                       (CASE WHEN ev.nv = 0 THEN 0.0
                             ELSE 1.0 / sqrt(ev.nv) END) DESC, nc.ci) AS rn
              FROM ev CROSS JOIN cb2 nc),
            $splitAssignCte,
            probe AS (SELECT DISTINCT ci FROM ranked2
                      WHERE (vec_id % 50 = 0) AND rn <= 1),
            cand AS (SELECT vec_id FROM assign
                     WHERE cell IN (SELECT ci FROM probe)),
            ${sqScoringCtes("vec_id % 50 = 0",
              "JOIN cand ON cand.vec_id = e.vec_id")}"""))

  // ---------------------------------------------------------------- q171
  // Logistic-style linear quality classifier (LogReg): full-batch
  // gradient descent over dense quality signals (length score, mean
  // word length, stopword ratio, dup-bigram fraction — the q64 signal
  // set as features) against a length-gate label (n_chars ≥ 300 — the
  // boundary lives on a VARIABLE the features only correlate with, so
  // the fit genuinely has to find it: measured accuracy 0.96–0.99
  // across sf0.001/0.01/0.1, vs 0.51 majority), hard-sigmoid
  // probability in pure integer arithmetic so the ENTIRE fit is
  // engine-portable: no exp/ln anywhere, every gradient an exact
  // integer sum, every division floor-by-offset. Heavy-ball momentum
  // (9/10) converges in 10 iterations where plain GD needed 32 — on an
  // iterative distributed fit the driver-loop round-trips ARE the
  // latency cost, so the optimizer choice is a 3× scheduling win (6.1 s
  // → ~2.5 s at sf0.1), and the velocity update keeps the same exact
  // floor-division arithmetic. The oracle unrolls all 10 iterations as
  // CTE quadruples (margins → gradient → velocity → weights) and must
  // land on the identical weight vector — one wrong rounding in any
  // iteration cascades into every later margin and flips the hash.
  private val logRegIters = 10
  private val logRegLrNumer = 1L
  private val logRegLrDenom = 1L
  private val logRegMomNumer = 9L
  private val logRegMomDenom = 10L

  /** One (margin, gradient, velocity, weights) CTE quadruple per GD
    * iteration. w0/v0 are the all-zero init; iteration i reads
    * w{i-1}/v{i-1} and writes v{i}/w{i}. The arithmetic mirrors
    * LogReg.train exactly: clamp ±2e12, +2e12 offset then //4
    * (non-negative ⇒ floor), gradient summed as HUGEINT, both divisions
    * of the velocity update floor-by-offset (DuckDB `//` truncates
    * toward zero on negatives; adding K·divisor first makes the
    * numerator non-negative where trunc == floor — K = 1e9 for the
    * n·1e12-scaled gradient step, 1e18 for the momentum decay, each
    * HUGEINT-cast because K·divisor overflows int64). Every CTE that is
    * referenced more than once is MATERIALIZED: DuckDB inlines plain
    * CTEs per reference, and w{i-1}/v{i-1} each feed two consumers, so
    * without materialization the chain re-expands EXPONENTIALLY (a
    * 32-iteration chain never finishes planning; measured 1.5 s
    * materialized). */
  private def logRegIterCtes(iters: Int): String = {
    val xs = (0 to 4).map(j => s"x$j")
    val d = s"(CAST(${logRegLrDenom} AS HUGEINT) * nn.n * 1000000000000)"
    (1 to iters).map { i =>
      val mexpr = xs.map(x => s"w.${x.replace("x", "w")} * t.$x").mkString(" + ")
      val grads = xs.map(x => s"sum(r * $x) AS g${x.stripPrefix("x")}").mkString(", ")
      val vs = xs.map { x =>
        val j = x.stripPrefix("x")
        s"((CAST(${logRegMomNumer} AS HUGEINT) * v.v$j + CAST(1000000000000000000 AS HUGEINT) * ${logRegMomDenom}) // ${logRegMomDenom} - 1000000000000000000) + ((${logRegLrNumer} * g.g$j + 1000000000 * $d) // $d - 1000000000) AS v$j"
      }.mkString(",\n                     ")
      val ws = xs.map { x =>
        val j = x.stripPrefix("x")
        s"w.w$j - v.v$j AS w$j"
      }.mkString(", ")
      s"""m$i AS MATERIALIZED (
              SELECT t.yp, t.x0, t.x1, t.x2, t.x3, t.x4,
                     ((greatest(least($mexpr, 2000000000000), -2000000000000)
                       + 2000000000000) // 4) - t.yp AS r
              FROM tr t CROSS JOIN w${i - 1} w),
            g$i AS MATERIALIZED (SELECT $grads FROM m$i),
            v$i AS MATERIALIZED (
              SELECT $vs
              FROM v${i - 1} v CROSS JOIN g$i g CROSS JOIN nn),
            w$i AS MATERIALIZED (
              SELECT $ws
              FROM w${i - 1} w CROSS JOIN v$i v)"""
    }.mkString(",\n            ")
  }

  private val q171 = Q("q171_logreg_quality",
    (s, dir) => {
      // Spread: meanTokenLen/dupNgramFraction are interpreted HOF folds —
      // single-split scans serialize them (PlanAuditSpec rule 4, q64)
      val feats = Spread.toCores(t(s, dir, "documents"))
        .select(col("doc_id"), (col("n_chars") >= 300L).as("_y"),
          lit(1000000L).as("_x0"),
          LogReg.microFeature(least(
            TF.tokenCount(col("text")).cast(DoubleType) / lit(200.0),
            lit(1.0))).as("_x1"),
          LogReg.microFeature(least(
            TF.meanTokenLen(col("text")) / lit(10.0), lit(1.0))).as("_x2"),
          LogReg.microFeature(least(
            TF.stopwordHits(col("text")).cast(DoubleType) * lit(5.0)
              / greatest(TF.tokenCount(col("text")), lit(1L)).cast(DoubleType),
            lit(1.0))).as("_x3"),
          LogReg.microFeature(TF.dupNgramFraction(col("text"), 2)).as("_x4"))
      val featCols = Seq("_x0", "_x1", "_x2", "_x3", "_x4")
      val w = LogReg.train(feats.filter(col("doc_id") % 10 =!= 0), featCols,
        "_y", iters = logRegIters, lrNumer = logRegLrNumer,
        lrDenom = logRegLrDenom, mNumer = logRegMomNumer,
        mDenom = logRegMomDenom)
      LogReg.score(feats, featCols, w)
        .select(col("doc_id"), col("margin_p12"), col("prob"),
          col("predicted"), col("_y").as("actual"))
    },
    Some(s"""WITH tk AS (
              SELECT doc_id, n_chars >= 300 AS y,
                     list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                 t -> len(t) > 0) AS tk
              FROM documents),
            sig AS (
              SELECT doc_id, y,
                     CAST(len(tk) AS BIGINT) AS n_words,
                     CASE WHEN len(tk) > 0 THEN
                         CAST(list_sum(list_transform(tk, t -> len(t))) AS DOUBLE) / len(tk)
                       ELSE 0.0 END AS mwl,
                     CAST(len(list_filter(tk, t -> list_contains(['the','and','of','to','a','in','is','that','it','for'], t))) AS BIGINT) AS stop_hits,
                     CASE WHEN len(tk) < 2 THEN 0.0
                          ELSE 1.0 - CAST(len(list_distinct(list_transform(
                                 range(1, len(tk)),
                                 i -> tk[i] || ' ' || tk[i + 1]))) AS DOUBLE)
                               / (len(tk) - 1) END AS dupf
              FROM tk),
            f AS MATERIALIZED (
              SELECT doc_id, y,
                     CAST(1000000 AS BIGINT) AS x0,
                     CAST(CAST(round_even(least(CAST(n_words AS DOUBLE) / 200.0, 1.0), 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS x1,
                     CAST(CAST(round_even(least(mwl / 10.0, 1.0), 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS x2,
                     CAST(CAST(round_even(least(CAST(stop_hits AS DOUBLE) * 5.0 / greatest(n_words, 1), 1.0), 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS x3,
                     CAST(CAST(round_even(dupf, 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS x4,
                     CASE WHEN y THEN CAST(1000000000000 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS yp
              FROM sig),
            tr AS MATERIALIZED (SELECT * FROM f WHERE doc_id % 10 <> 0),
            nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM tr),
            w0 AS (SELECT CAST(0 AS HUGEINT) AS w0, CAST(0 AS HUGEINT) AS w1,
                          CAST(0 AS HUGEINT) AS w2, CAST(0 AS HUGEINT) AS w3,
                          CAST(0 AS HUGEINT) AS w4),
            v0 AS (SELECT CAST(0 AS HUGEINT) AS v0, CAST(0 AS HUGEINT) AS v1,
                          CAST(0 AS HUGEINT) AS v2, CAST(0 AS HUGEINT) AS v3,
                          CAST(0 AS HUGEINT) AS v4),
            ${logRegIterCtes(logRegIters)},
            sc AS (
              SELECT f.doc_id, f.y,
                     w.w0 * f.x0 + w.w1 * f.x1 + w.w2 * f.x2
                       + w.w3 * f.x3 + w.w4 * f.x4 AS margin
              FROM f CROSS JOIN w$logRegIters w)
            SELECT doc_id, CAST(margin AS BIGINT) AS margin_p12,
                   CAST((greatest(least(margin, 2000000000000), -2000000000000)
                     + 2000000000000) // 4 AS DOUBLE) / 1000000000000.0 AS prob,
                   margin > 0 AS predicted, y AS actual
            FROM sc"""))

  // ---------------------------------------------------------------- q172
  // Hard-negative mining for contrastive training: each vector's top
  // wrong-label neighbors from the kNN graph (q106's all-pairs IVF
  // shape), re-ranked per query. Over-fetch k=8, keep 2 negatives. The
  // oracle replays the codebook derivation, cell routing, candidate
  // ranking, the label anti-filter, and the negative re-rank.
  private val q172 = Q("q172_hard_negatives",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val cb = autoCodebook(e, 64)
      Similarity.hardNegatives(e, "vec_id", "embedding", "label", cb,
        k = 8, nprobe = 2, perQuery = 2)
    },
    Some(s"""WITH ${autoIvfDotsCtes(64, evCols = ", label")},
            ${ivfProbeCtes("rn <= 2")},
            knn AS (
              SELECT query_id, neighbor_id, round(cos, 6) AS cosine
              FROM r WHERE rn <= 8),
            hn AS (
              SELECT k.query_id, k.neighbor_id, k.cosine,
                     eq.label AS query_label, en.label AS neighbor_label,
                     row_number() OVER (PARTITION BY k.query_id
                       ORDER BY k.cosine DESC, k.neighbor_id) AS hn_rank
              FROM knn k
              JOIN embeddings eq ON eq.vec_id = k.query_id
              JOIN embeddings en ON en.vec_id = k.neighbor_id
              WHERE eq.label <> en.label)
            SELECT query_id, neighbor_id, cosine, query_label, neighbor_label,
                   CAST(hn_rank AS INT) AS hn_rank
            FROM hn WHERE hn_rank <= 2"""))

  // ---------------------------------------------------------------- q173
  // MMR diversity re-rank (Carbonell & Goldstein 1998): greedy
  // λ-blend selection over the q106/q172 ANN candidate shape, exact by
  // integer arithmetic — relevance and pair-similarity ride as micro
  // ints of the round-6 cosines, λ = 7/10 as a rational, ties on
  // neighbor_id. The oracle replays the candidate derivation, every
  // pair cosine, and all three greedy picks; selall accumulates the
  // chosen set so each round's anti-filter and max-sim aggregation see
  // exactly what the Spark loop saw.
  private val q173 = Q("q173_mmr_rerank",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val cb = autoCodebook(e, 64)
      Similarity.mmrRerank(e, "vec_id", "embedding", cb,
        fetch = 8, select = 3, nprobe = 2, lamNumer = 7, lamDenom = 10)
    },
    Some(s"""WITH ${autoIvfDotsCtes(64)},
            ${ivfProbeCtes("rn <= 2", "scd")},
            knn AS MATERIALIZED (
              SELECT query_id, neighbor_id,
                     CAST(CAST(round(cos, 6) AS DECIMAL(9,6)) * 1000000 AS BIGINT) AS rel6
              FROM r WHERE rn <= 8),
            pr AS MATERIALIZED (
              SELECT a.query_id, a.neighbor_id AS pa, b.neighbor_id AS pb,
                     CAST(CAST(round(
                       list_sum(list_transform(range(1, 65),
                         i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE))) /
                       (sqrt(ea.nv) * sqrt(eb.nv)), 6) AS DECIMAL(9,6)) * 1000000 AS BIGINT) AS sim6
              FROM knn a
              JOIN knn b ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id
              JOIN ev ea ON ea.vec_id = a.neighbor_id
              JOIN ev eb ON eb.vec_id = b.neighbor_id),
            sel1 AS MATERIALIZED (
              SELECT query_id, neighbor_id, rel6, rel6 * 7 AS mmr_score, 1 AS mmr_rank
              FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY rel6 DESC, neighbor_id) AS rn FROM knn)
              WHERE rn = 1),
            sel2 AS MATERIALIZED (
              SELECT query_id, neighbor_id, rel6, mmr_score, 2 AS mmr_rank FROM (
                SELECT c.query_id, c.neighbor_id, c.rel6,
                       c.rel6 * 7 - ms.maxsim6 * 3 AS mmr_score,
                       row_number() OVER (PARTITION BY c.query_id
                         ORDER BY c.rel6 * 7 - ms.maxsim6 * 3 DESC, c.neighbor_id) AS rn
                FROM knn c
                JOIN (SELECT p.query_id, p.pa AS neighbor_id, max(p.sim6) AS maxsim6
                      FROM pr p JOIN sel1 s1
                        ON s1.query_id = p.query_id AND s1.neighbor_id = p.pb
                      GROUP BY 1, 2) ms
                  ON ms.query_id = c.query_id AND ms.neighbor_id = c.neighbor_id
                WHERE NOT EXISTS (SELECT 1 FROM sel1 sx
                  WHERE sx.query_id = c.query_id AND sx.neighbor_id = c.neighbor_id))
              WHERE rn = 1),
            selall2 AS MATERIALIZED (
              SELECT query_id, neighbor_id FROM sel1
              UNION ALL SELECT query_id, neighbor_id FROM sel2),
            sel3 AS MATERIALIZED (
              SELECT query_id, neighbor_id, rel6, mmr_score, 3 AS mmr_rank FROM (
                SELECT c.query_id, c.neighbor_id, c.rel6,
                       c.rel6 * 7 - ms.maxsim6 * 3 AS mmr_score,
                       row_number() OVER (PARTITION BY c.query_id
                         ORDER BY c.rel6 * 7 - ms.maxsim6 * 3 DESC, c.neighbor_id) AS rn
                FROM knn c
                JOIN (SELECT p.query_id, p.pa AS neighbor_id, max(p.sim6) AS maxsim6
                      FROM pr p JOIN selall2 s2
                        ON s2.query_id = p.query_id AND s2.neighbor_id = p.pb
                      GROUP BY 1, 2) ms
                  ON ms.query_id = c.query_id AND ms.neighbor_id = c.neighbor_id
                WHERE NOT EXISTS (SELECT 1 FROM selall2 sx
                  WHERE sx.query_id = c.query_id AND sx.neighbor_id = c.neighbor_id))
              WHERE rn = 1)
            SELECT query_id, neighbor_id, rel6, mmr_score, CAST(mmr_rank AS INT) AS mmr_rank
            FROM (SELECT * FROM sel1 UNION ALL SELECT * FROM sel2
                  UNION ALL SELECT * FROM sel3)"""))

  // ---------------------------------------------------------------- q174
  // Ranked-retrieval quality: MRR + nDCG@8 of the IVF-probed retriever
  // against label relevance, per query — the graded-relevance
  // complement of q126/q128's recall. The log2 position discounts are
  // rounded ONCE in Scala (Eval.ndcgDiscountsMicro) and interpolated
  // into BOTH engines as integer literals, so the metric involves no
  // cross-engine transcendental call; DCG/IDCG are integer sums and
  // MRR/nDCG identical-IEEE ratios.
  private val q174 = Q("q174_retrieval_ndcg", {
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val cb = autoCodebook(e, 64)
      val knn = Similarity.knnGraph(e, "vec_id", "embedding", cb,
        k = 8, nprobe = 2)
      val lab = e.select(col("vec_id"), col("label"))
      val ranked = knn
        .join(lab.select(col("vec_id").as("query_id"),
          col("label").as("_ql")), Seq("query_id"))
        .join(lab.select(col("vec_id").as("neighbor_id"),
          col("label").as("_nl")), Seq("neighbor_id"))
        .withColumn("is_rel", col("_ql") === col("_nl"))
      val universe = e.groupBy(col("label"))
        .agg((count(lit(1)) - 1).as("n_rel"))
      val relU = lab.select(col("vec_id").as("query_id"), col("label"))
        .join(universe, Seq("label"))
        .select(col("query_id"), col("n_rel"))
      Eval.retrievalMetrics(ranked, "query_id", "rank", "is_rel", relU, k = 8)
    }
  }, {
    val d = Eval.ndcgDiscountsMicro(8)
    val prefix = d.scanLeft(0L)(_ + _).tail
    val dCase = (1 to 8).map(i => s"WHEN ${i} THEN ${d(i - 1)}")
      .mkString(" ")
    val pCase = (1 to 8).map(j => s"WHEN ${j} THEN ${prefix(j - 1)}")
      .mkString(" ")
    Some(s"""WITH ${autoIvfDotsCtes(64, evCols = ", label")},
            ${ivfProbeCtes("rn <= 2", "scd")},
            rel AS (
              SELECT rk.query_id, rk.rn AS rank, eq.label = en.label AS is_rel
              FROM (SELECT query_id, neighbor_id, rn FROM r WHERE rn <= 8) rk
              JOIN embeddings eq ON eq.vec_id = rk.query_id
              JOIN embeddings en ON en.vec_id = rk.neighbor_id),
            pq AS (
              SELECT query_id,
                     min(CASE WHEN is_rel THEN rank END) AS first_rel,
                     CAST(sum(CASE WHEN is_rel THEN
                         CASE rank $dCase ELSE 0 END
                       ELSE 0 END) AS BIGINT) AS dcg_micro
              FROM rel GROUP BY query_id),
            uni AS (SELECT label, CAST(count(*) - 1 AS BIGINT) AS n_rel
                    FROM embeddings GROUP BY label),
            qn AS (SELECT e.vec_id AS query_id, u.n_rel
                   FROM embeddings e JOIN uni u USING (label)),
            met AS (
              SELECT p.query_id, p.first_rel, p.dcg_micro,
                     CAST(CASE least(qn.n_rel, 8) $pCase ELSE 0 END AS BIGINT)
                       AS idcg_micro
              FROM pq p JOIN qn USING (query_id))
            SELECT query_id,
                   round_even(CASE WHEN first_rel IS NULL THEN 0.0
                     ELSE 1.0 / first_rel END, 6) AS mrr,
                   dcg_micro, idcg_micro,
                   round_even(CASE WHEN idcg_micro = 0 THEN 0.0
                     ELSE CAST(dcg_micro AS DOUBLE) / idcg_micro END, 6) AS ndcg
            FROM met""")
  })

  // ---------------------------------------------------------------- q175
  // Asymmetric containment screen: |A∩B|/|A| over char-shingle sets —
  // the directed dedup read MinHash-LSH is structurally blind to (a
  // short doc inside a long one has tiny Jaccard). Two-phase:
  // deterministic rare-shingle candidates (df ≤ 64, whole-shingle drop
  // — no ordering, fully replayable) then exact verify on survivors.
  // Bounded slice like q31 so the oracle's pair join stays tiny at any
  // SF; the injected dup twins must surface at containment 1.0 both
  // directions.
  private val q175 = Q("q175_containment",
    (s, dir) => TextDedup.containmentPairs(
      Spread.toCores(dupSlice(s, dir)),
      "text", "doc_id", shingleSize = 5, threshold = 0.5,
      dfCap = 64, minShared = 2),
    Some(s"""WITH ${sliceShingleCtes()},
            sz AS (SELECT doc_id, shingles, len(shingles) AS n FROM sh),
            occ AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
            dfx AS (SELECT g, count(*) AS df FROM occ GROUP BY g),
            rare AS (SELECT occ.doc_id, occ.g
                     FROM occ JOIN dfx USING (g) WHERE df <= 64),
            cand AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM rare a JOIN rare b ON a.g = b.g AND a.doc_id <> b.doc_id
              GROUP BY 1, 2 HAVING count(*) >= 2),
            ver AS (
              SELECT c.id_a, c.id_b,
                     CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
                       / sa.n AS containment,
                     CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
                       / len(list_distinct(list_concat(sa.shingles, sb.shingles)))
                       AS jaccard
              FROM cand c
              JOIN sz sa ON sa.doc_id = c.id_a
              JOIN sz sb ON sb.doc_id = c.id_b)
            SELECT id_a, id_b, round(containment, 6) AS containment,
                   round(jaccard, 6) AS jaccard
            FROM ver WHERE containment >= 0.5"""))

  val all: Seq[Q] = Seq(q25, q26, q27, q28, q29, q30, q31, q32, q33, q34, q35,
    q42, q53, q54, q55, q56, q58, q59, q61, q62, q63, q64, q65, q69, q72, q76,
    q77, q78, q80, q81, q82, q83, q84, q85, q88, q90, q91, q94, q97, q99,
    q100, q101, q102, q104, q105, q106, q107, q108, q109, q110, q111, q112,
    q113, q114, q115, q116, q117, q119, q120, q121, q122, q123, q124, q125,
    q126, q127, q128, q129, q130, q131, q132, q133, q134, q135, q136, q140,
    q141, q142, q143, q144, q145, q146, q147, q148, q149, q150, q151, q152,
    q153, q154, q155, q156, q157, q158, q159, q160, q161, q162, q163, q164,
    q165, q166, q167, q168, q169, q170, q171, q172, q173, q174, q175)
}
