package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.corpus.Corpus
import graft.functions.Text
import graft.operators.{Dedup, Similarity}

/** Text-analysis, deduplication, and similarity-search queries over the
  * `documents` and `embeddings` tables (training-data pipeline operators),
  * plus scalar-function coverage (SURVEY.md §2.8). DuckDB-oracle'd where the
  * semantics are engine-portable; hash-based signatures (xxhash64) are
  * oracle-free and verified by dedicated ScalaTest suites instead.
  */
object QueriesText {

  import QuerySpec.{StopwordsSql, t}

  /** Dump the deterministic hyperplane weights (pure function of the seed)
    * for the LSH oracles — idempotent; called by every LSH query so the
    * oracle finds the table regardless of which query ran.
    */
  private def dumpPlanes(s: SparkSession): Unit = {
    import s.implicits._
    Dumps.write((0 until 8).map(p => (p,
      (0 until 64).map(i => graft.corpus.Rng.double01(
        graft.corpus.Rng.hash(42L, p.toLong * 100003L + i)) * 2.0 - 1.0).toArray))
      .toDF("plane", "w"), "lsh_planes")
  }

  /** Exact 64-bit rotate-left-5 of BIGINT lambda var `a` in DuckDB: unsigned
    * reinterpretation + wraparound via HUGEINT, OR'd (here: added — the low 5
    * bits of the shifted part are zero) with the carried-out top 5 bits.
    * Validated bit-exactly against the Scala fold semantics.
    */
  private def rot5(a: String): String = {
    val shifted = s"((CAST($a AS HUGEINT) + CASE WHEN $a < 0 THEN 18446744073709551616 ELSE 0 END) * 32) % 18446744073709551616 + (($a >> 59) & 31)"
    s"CAST(($shifted) - CASE WHEN ($shifted) >= 9223372036854775808 THEN 18446744073709551616 ELSE 0 END AS BIGINT)"
  }

  private val dumpDir = Dumps.Dir

  /** Brute-force all-pairs n-gram Jaccard in SQL — the dd_ngram_jaccard
    * oracle, and the edge list the dd_components oracle builds on.
    */
  private val NgramPairsSql: String =
    s"""WITH toks AS (SELECT doc_id,
         ${Text.sqlTokens("text")} AS tk
         FROM documents),
       grams AS (SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(tk) - 2),
           i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS gram
         FROM toks),
       sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
       inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
                 FROM grams a JOIN grams b
                   ON a.gram = b.gram AND a.doc_id < b.doc_id
                 GROUP BY 1, 2)
       SELECT id_a, id_b,
         round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard
       FROM inter JOIN sizes sa ON sa.doc_id = id_a
                  JOIN sizes sb ON sb.doc_id = id_b
       WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5"""

  val specs: Seq[QuerySpec] = Seq(
    // ---- F1: regex-replace chain (heaviest scalar op in the reference) ------
    QuerySpec("f1_regex_replace", (s, d) =>
      t(s, d, "part").select(col("p_partkey"),
        regexp_replace(regexp_replace(lower(col("p_type")),
          "(anodized|burnished)", "finished"), "\\s+", "_").as("type_clean")),
      """SELECT p_partkey,
         regexp_replace(regexp_replace(lower(p_type),
           '(anodized|burnished)', 'finished', 'g'), '[\s\v]+', '_', 'g') AS type_clean
         FROM part"""),

    // ---- F3/F6: split + element + substring ---------------------------------
    QuerySpec("f3_split_substr", (s, d) =>
      t(s, d, "part").select(col("p_partkey"),
        element_at(split(col("p_type"), " "), 1).as("t1"),
        element_at(split(col("p_type"), " "), -1).as("t_last"),
        substring(col("p_name"), 1, 5).as("name5")),
      """SELECT p_partkey,
         string_split(p_type, ' ')[1] AS t1,
         string_split(p_type, ' ')[-1] AS t_last,
         substring(p_name, 1, 5) AS name5
         FROM part"""),

    // ---- F4/F5: case transforms + concat -------------------------------------
    QuerySpec("f5_case_concat", (s, d) =>
      t(s, d, "region").select(
        concat_ws("-", lower(col("r_name")), col("r_regionkey").cast("string")).as("tag"),
        upper(col("r_name")).as("name_uc")),
      """SELECT concat_ws('-', lower(r_name), CAST(r_regionkey AS VARCHAR)) AS tag,
         upper(r_name) AS name_uc FROM region"""),

    // ---- F8/F9: math scalars ---------------------------------------------------
    QuerySpec("f9_math_scalars", (s, d) =>
      t(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        round(log10(col("l_extendedprice")), 4).as("log_price"),
        round(sqrt(abs(col("l_quantity"))), 4).as("sqrt_qty"),
        floor(col("l_extendedprice") / 1000.0).cast("long").as("price_k"),
        pmod(col("l_orderkey"), lit(7)).as("key_mod7")),
      """SELECT l_orderkey, l_linenumber,
         round(log10(l_extendedprice), 4) AS log_price,
         round(sqrt(abs(l_quantity)), 4) AS sqrt_qty,
         CAST(floor(l_extendedprice / 1000.0) AS BIGINT) AS price_k,
         l_orderkey % 7 AS key_mod7
         FROM lineitem"""),

    // ---- TXT: corpus-wide token frequency (tokenize → explode → count) -------
    QuerySpec("txt_token_counts", (s, d) =>
      t(s, d, "documents")
        .select(explode(Text.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 100),
      s"""SELECT token, count(*) AS n FROM (
           SELECT unnest(${Text.sqlTokens("text")}) AS token
           FROM documents)
         GROUP BY token HAVING count(*) >= 100"""),

    // ---- TXT: per-document token stats + BPE-proxy count ----------------------
    // round 6: ONE counting-kernel pass (tokens, chars, length sum,
    // stopword hits, punct chars) replaces five interpreted HOF/regex
    // passes per row; every ratio/round stays the expression twins' own
    // arithmetic over the counts, so values are bit-identical
    // (KernelTwinSpec + oracle)
    QuerySpec("txt_token_stats", (s, d) => {
      val st = col("__ts")
      val n = st("_1"); val chars = st("_2"); val lenSum = st("_3")
      val sw = st("_4"); val pc = st("_5")
      t(s, d, "documents")
        .withColumn("__ts", Text.tokenStatsFast(Corpus.Stopwords)(col("text")))
        .select(col("doc_id"),
          n.cast("long").as("n_tokens"),
          (n + greatest(lit(0.0),
            floor((chars - n * lit(6)) / lit(4.0)))).cast("long").as("n_bpe"),
          round(when(n > 0, lenSum.cast("double") / n).otherwise(lit(0.0)), 4)
            .as("mean_tok_len"),
          round(when(n > 0, sw.cast("double") / n).otherwise(lit(0.0)), 4)
            .as("stopword_ratio"),
          round(when(length(col("text")) > 0,
            pc.cast("double") / length(col("text"))).otherwise(lit(0.0)), 4)
            .as("punct_ratio"))
    },
      s"""WITH toks AS (SELECT doc_id, text,
           ${Text.sqlTokens("text")} AS tk
           FROM documents)
         SELECT doc_id,
           CAST(len(tk) AS BIGINT) AS n_tokens,
           CAST(len(tk) + greatest(0.0, floor(
             (length(regexp_replace(text, '[\\s\\v]+', '', 'g')) - len(tk) * 6) / 4.0))
             AS BIGINT) AS n_bpe,
           round(CASE WHEN len(tk) > 0 THEN
             CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE) / len(tk)
             ELSE 0.0 END, 4) AS mean_tok_len,
           round(CASE WHEN len(tk) > 0 THEN
             CAST(len(list_filter(tk, x -> list_contains($StopwordsSql, x))) AS DOUBLE) / len(tk)
             ELSE 0.0 END, 4) AS stopword_ratio,
           round(CASE WHEN length(text) > 0 THEN
             CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s\\v]', '', 'g')) AS DOUBLE)
               / length(text) ELSE 0.0 END, 4) AS punct_ratio
         FROM toks"""),

    // ---- TXT: Gopher-style repetition signals ---------------------------------
    // dup-word fraction + top-bigram share, zero-shuffle per-document HOFs;
    // the oracle recomputes the bigram top share via unnest + group-by (the
    // shapes differ by design — DuckDB has no sorted-run fold — the VALUES
    // must agree exactly)
    QuerySpec("txt_repetition", (s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        Text.tokenCount(col("text")).cast("long").as("n_tokens"),
        round(Text.dupWordFrac(col("text")) + lit(1e-9), 4).as("dup_word_frac"),
        round(Text.topBigramFrac(col("text")) + lit(1e-9), 4).as("top_bigram_frac")),
      s"""WITH toks AS (SELECT doc_id,
           ${Text.sqlTokens("text")} AS tk
           FROM documents),
         base AS (SELECT doc_id, len(tk) AS n_tokens,
           CASE WHEN len(tk) > 0 THEN
             1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk)
             ELSE 0.0 END AS dupf, tk
           FROM toks),
         bg AS (SELECT doc_id,
             unnest(list_transform(range(1, len(tk)),
               i -> tk[i] || ' ' || tk[i + 1])) AS g
           FROM base WHERE len(tk) >= 2),
         cnt AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
         top AS (SELECT doc_id, max(c) AS mx, sum(c) AS tot FROM cnt GROUP BY 1)
         SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
           round(b.dupf + 1e-9, 4) AS dup_word_frac,
           round(COALESCE(t.mx * 1.0 / t.tot, 0.0) + 1e-9, 4) AS top_bigram_frac
         FROM base b LEFT JOIN top t USING (doc_id)"""),

    // ---- TXT: heuristic language id -------------------------------------------
    // hot-path form: the typed single-pass kernel (spec-asserted equal to
    // the KernelTwins.langId column form; the interpreted array-HOF filters
    // of the latter benched 12x slower: 1.99 vs 0.17 s over sf0.1)
    QuerySpec("txt_langid", (s, d) =>
      t(s, d, "documents").select(col("doc_id"), col("lang").as("lang_true"),
        Text.langIdFast(col("text")).as("lang_pred")),
      s"""WITH toks AS (SELECT doc_id, lang,
           ${Text.sqlTokens("lower(text)")} AS tk
           FROM documents),
         sc AS (SELECT doc_id, lang,
           len(list_filter(tk, x -> list_contains(['der','die','und','das','ist','ein'], x))) AS s_de,
           len(list_filter(tk, x -> list_contains(['the','and','of','is','with','for'], x))) AS s_en,
           len(list_filter(tk, x -> list_contains(['el','la','de','que','los','una'], x))) AS s_es,
           len(list_filter(tk, x -> list_contains(['le','la','les','des','est','une'], x))) AS s_fr
           FROM toks)
         SELECT doc_id, lang AS lang_true,
           CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
                WHEN s_es >= s_fr THEN 'es'
                ELSE 'fr' END AS lang_pred
         FROM sc"""),

    // ---- TXT: document fingerprint (rolling hash) -----------------------------
    // cross-engine oracle: the per-token xxhash64 vocabulary is dumped, and
    // DuckDB replays the rotate-xor fold itself (list_reduce with exact
    // 64-bit wraparound via HUGEINT) — the FOLD semantics are verified, only
    // the token hash stays engine-local
    QuerySpec("txt_fingerprint", (s, d) => {
      val docs = t(s, d, "documents")
      Dumps.write(docs.select(explode(Text.tokens(col("text"))).as("token"))
        .distinct().select(col("token"), xxhash64(col("token")).as("h")),
        "token_hash")
      docs.select(col("doc_id"), Text.fingerprint(col("text")).as("fingerprint"))
    },
      s"""WITH v AS (SELECT * FROM read_parquet('$dumpDir/token_hash.parquet/*.parquet')),
         |toks AS (SELECT doc_id,
         |  ${Text.sqlTokens("text")} AS tk
         |  FROM documents),
         |tp AS (SELECT doc_id, unnest(generate_series(1, len(tk))) AS i, tk FROM toks),
         |th AS (SELECT tp.doc_id, tp.i, v.h FROM tp JOIN v ON v.token = tp.tk[tp.i]),
         |hl AS (SELECT doc_id, list(h ORDER BY i) AS hs FROM th GROUP BY doc_id),
         |alldocs AS (SELECT t.doc_id, coalesce(hl.hs, CAST([] AS BIGINT[])) AS hs
         |  FROM toks t LEFT JOIN hl USING (doc_id))
         |SELECT doc_id,
         |  list_reduce(list_prepend(CAST(1469598103934665603 AS BIGINT), hs),
         |    (a, h) -> xor(${rot5("a")}, h)) AS fingerprint
         |FROM alldocs""".stripMargin),

    // ---- DD: fingerprint dedup GROUPS are cross-engine-verifiable even though
    // the hash itself is engine-local: grouping by the rolling-hash fingerprint
    // is grouping by the whitespace-normalized token sequence (no collisions in
    // the corpus — oracle'd structurally against DuckDB grouping by that string)
    QuerySpec("dd_fingerprint", (s, d) =>
      Dedup.byFingerprint(t(s, d, "documents"), "doc_id", "text")
        .select(col("keep_id"), col("n_copies")),
      s"""SELECT min(doc_id) AS keep_id, count(*) AS n_copies
         FROM (SELECT doc_id, array_to_string(
                 ${Text.sqlTokens("text")},
                 ' ') AS norm
               FROM documents)
         GROUP BY norm"""),

    // ---- DD: exact dedup --------------------------------------------------------
    QuerySpec("dd_exact", (s, d) =>
      t(s, d, "documents").groupBy(col("text"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select(col("keep_id"), col("n_copies"), length(col("text")).as("text_len")),
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies,
         CAST(length(text) AS INTEGER) AS text_len FROM documents GROUP BY text"""),

    // ---- DD: EXACT n-gram Jaccard near-dup via prefix-filtered index join ------
    QuerySpec("dd_ngram_jaccard", (s, d) =>
      Dedup.ngramJaccard(t(s, d, "documents"), "doc_id", "text",
        n = 3, minJaccard = 0.5)
        .select(col("id_a"), col("id_b"), col("jaccard")),
      NgramPairsSql),

    // ---- DD: MinHash+LSH near-dup ----------------------------------------------
    // cross-engine oracle: signatures + gram-hash sets are dumped (their
    // generation is bit-equality-ScalaTest'd vs the HOF reference forms);
    // DuckDB replays the ENTIRE downstream topology — banding (band slices
    // as join keys), the hot-bucket guard, candidate pair generation, and
    // exact Jaccard verification over the gram sets
    QuerySpec("dd_minhash_lsh", (s, d) => {
      val docs = t(s, d, "documents")
      Dumps.write(docs.select(col("doc_id"),
        Dedup.minhashSignatureFast(3, 16)(col("text")).as("sig")), "minhash_sig")
      Dumps.write(docs.select(col("doc_id"),
        Dedup.gramHashesFast(3)(col("text")).as("gh")), "minhash_grams")
      Dedup.minhashLsh(docs, "doc_id", "text",
        shingleN = 3, k = 16, rowsPerBand = 4, minJaccard = 0.5)
    },
      s"""WITH s AS (SELECT * FROM read_parquet('$dumpDir/minhash_sig.parquet/*.parquet')),
         |g AS (SELECT * FROM read_parquet('$dumpDir/minhash_grams.parquet/*.parquet')),
         |b AS (SELECT doc_id, band, list_slice(sig, band*4 + 1, band*4 + 4) AS bkey
         |      FROM s, (SELECT unnest([0,1,2,3]) AS band)),
         |hot AS (SELECT band, bkey FROM b GROUP BY 1,2 HAVING count(*) > 64),
         |kept AS (SELECT b.* FROM b ANTI JOIN hot USING (band, bkey)),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
         |         FROM kept a JOIN kept c
         |           ON a.band = c.band AND a.bkey = c.bkey AND a.doc_id < c.doc_id),
         |ver AS (SELECT id_a, id_b,
         |          len(list_intersect(ga.gh, gb.gh)) AS i,
         |          len(ga.gh) AS sa, len(gb.gh) AS sb
         |        FROM cand JOIN g ga ON ga.doc_id = id_a
         |                  JOIN g gb ON gb.doc_id = id_b)
         |SELECT id_a, id_b,
         |  round(CAST(i AS DOUBLE) / (sa + sb - i), 6) AS jaccard
         |FROM ver WHERE CAST(i AS DOUBLE) / (sa + sb - i) >= 0.5""".stripMargin),

    // ---- DD: SimHash near-dup ---------------------------------------------------
    // cross-engine oracle: dumped signatures (bit-equality-ScalaTest'd vs the
    // HOF form), DuckDB replays the 16-bit-chunk blocking + hot guard + pairs
    QuerySpec("dd_simhash", (s, d) => {
      val docs = t(s, d, "documents")
      val sigs = docs.select(col("doc_id"), Dedup.simhashFast(col("text")).as("sim"))
      Dumps.write(sigs, "simhash_sig")
      Dedup.hammingPairs(sigs, "doc_id", "sim", maxHamming = 3)
    },
      s"""WITH t AS (SELECT * FROM read_parquet('$dumpDir/simhash_sig.parquet/*.parquet')),
         |c AS (SELECT doc_id, sim, unnest([0,1,2,3]) AS ch FROM t),
         |k AS (SELECT doc_id, sim, ch, (sim >> (ch*16)) & 65535 AS key FROM c),
         |hot AS (SELECT ch, key FROM k GROUP BY 1,2 HAVING count(*) > 256),
         |kept AS (SELECT k.* FROM k ANTI JOIN hot USING (ch, key)),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |        min(bit_count(xor(a.sim, b.sim))) AS h
         |      FROM kept a JOIN kept b
         |        ON a.ch = b.ch AND a.key = b.key AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2)
         |SELECT id_a, id_b, CAST(h AS BIGINT) AS hamming FROM p
         |WHERE h <= 3""".stripMargin),

    // ---- DD: near-dup clustering + survivor selection ---------------------------
    // what a dedup pipeline actually emits: connected components over the
    // near-dup pair graph, each cluster keeping its min id. Min-label
    // propagation to fixpoint; DuckDB oracle recomputes the same components
    // via a recursive transitive-closure CTE over the SAME pair semantics
    QuerySpec("dd_components", (s, d) => {
      val pairs = Dedup.ngramJaccard(t(s, d, "documents"), "doc_id", "text",
        n = 3, minJaccard = 0.5)
      Dedup.components(pairs, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("comp").as("keep_id"))
    },
      s"""WITH RECURSIVE pairs AS ($NgramPairsSql),
         |und AS (SELECT id_a AS a, id_b AS b FROM pairs
         |        UNION SELECT id_b, id_a FROM pairs),
         |nodes AS (SELECT DISTINCT a AS id FROM und),
         |reach(id, root) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT u.b, r.root FROM reach r JOIN und u ON u.a = r.id)
         |SELECT id AS doc_id, min(root) AS keep_id FROM reach GROUP BY id""".stripMargin),

    // quality-aware survivor selection: production dedup keeps the BEST
    // document of a near-dup cluster (longest / highest-quality — the
    // RefinedWeb convention), not the smallest id. One window per
    // component over the component-sized member set.
    QuerySpec("dd_survivor_quality", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents")
      val pairs = Dedup.ngramJaccard(docs, "doc_id", "text",
        n = 3, minJaccard = 0.5)
      val comp = Dedup.components(pairs, "id_a", "id_b")
      val scored = comp.join(
        docs.select(col("doc_id").as("id"),
          Text.tokenCount(col("text")).as("n_tokens")), "id")
      val w = Window.partitionBy(col("comp"))
        .orderBy(col("n_tokens").desc, col("id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      scored
        .withColumn("survivor_id", first(col("id")).over(w))
        .select(col("id").as("doc_id"), col("n_tokens"),
          col("survivor_id"),
          (col("id") === col("survivor_id")).as("is_survivor"))
    },
      s"""WITH RECURSIVE pairs AS ($NgramPairsSql),
         |und AS (SELECT id_a AS a, id_b AS b FROM pairs
         |        UNION SELECT id_b, id_a FROM pairs),
         |nodes AS (SELECT DISTINCT a AS id FROM und),
         |reach(id, root) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT u.b, r.root FROM reach r JOIN und u ON u.a = r.id),
         |comp AS (SELECT id, min(root) AS comp FROM reach GROUP BY id),
         |q AS (SELECT c.id, c.comp,
         |    len(${Text.sqlTokens("d.text")})
         |      AS nt
         |  FROM comp c JOIN documents d ON d.doc_id = c.id),
         |r AS (SELECT *, row_number()
         |    OVER (PARTITION BY comp ORDER BY nt DESC, id) AS rk FROM q),
         |sv AS (SELECT comp, id AS survivor_id FROM r WHERE rk = 1)
         |SELECT q.id AS doc_id, CAST(q.nt AS INTEGER) AS n_tokens, sv.survivor_id,
         |  q.id = sv.survivor_id AS is_survivor
         |FROM q JOIN sv USING (comp)""".stripMargin),

    // ---- SIM: embedding-cosine near-dup pairs (label-blocked) ------------------
    QuerySpec("sim_cosine_pairs", (s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.cosineNearDupPairs(e, "vec_id", "embedding", col("label"), 0.3)
    },
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.v, b.v) /
             (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
             AS cos
         FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
         WHERE round(list_dot_product(a.v, b.v) /
             (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
           >= 0.3"""),

    // ---- SIM: brute-force cosine top-k neighbors --------------------------------
    QuerySpec("ann_brute_topk", (s, d) => {
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.bruteForceTopK(q, e.select(col("vec_id").as("cid"),
          col("embedding").as("cvec")), "qid", "qvec", "cid", "cvec", k = 3)
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 3),
         scored AS (SELECT qid, e.vec_id AS cid,
           round(list_dot_product(qv, v) /
             (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6) AS cos
           FROM q CROSS JOIN e)
         SELECT qid, cid, cos,
           CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS INTEGER) AS rk
         FROM scored QUALIFY rk <= 3"""),

    // ---- SIM: LSH-bucketed embedding near-dup pairs (scale path) ----------------
    // the label-free twin of sim_cosine_pairs: blocking comes from the
    // hyperplane LSH bucket, the shape that works when no label exists at
    // 10^12 rows. Full DuckDB oracle via the dumped plane weights.
    QuerySpec("sim_lsh_neardup", (s, d) => {
      dumpPlanes(s)
      val e = t(s, d, "embeddings")
      Similarity.cosineNearDupPairs(e, "vec_id", "embedding",
        Similarity.lshBucketFast(planes = 8, dims = 64, seed = 42L)(col("embedding")),
        minCos = 0.3)
    },
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |w AS (SELECT plane, w FROM read_parquet('$dumpDir/lsh_planes.parquet/*.parquet')),
         |proj AS (SELECT e.vec_id, w.plane, list_dot_product(e.v, w.w) AS pr
         |         FROM e CROSS JOIN w),
         |buck AS (SELECT vec_id,
         |           CAST(sum(CASE WHEN pr > 0 THEN 1 << plane ELSE 0 END) AS BIGINT) AS b
         |         FROM proj GROUP BY 1),
         |pairs AS (SELECT a.vec_id AS id_a, c.vec_id AS id_b
         |          FROM buck a JOIN buck c ON a.b = c.b AND a.vec_id < c.vec_id)
         |SELECT id_a, id_b,
         |  round(list_dot_product(q.v, c.v) /
         |    (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS cos
         |FROM pairs JOIN e q ON q.vec_id = id_a JOIN e c ON c.vec_id = id_b
         |WHERE round(list_dot_product(q.v, c.v) /
         |    (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) >= 0.3""".stripMargin),

    // ---- SIM: LSH-bucketed ANN (scale path) -------------------------------------
    // cross-engine oracle: the deterministic hyperplane weights are dumped as
    // a table, and DuckDB recomputes EVERYTHING — projections, sign-bit
    // buckets, Hamming-1 multiprobe, candidate join, exact cosine, top-k
    QuerySpec("ann_lsh_topk", (s, d) => {
      dumpPlanes(s)
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.lshTopK(q, e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
        "qid", "qvec", "cid", "cvec", k = 3, planes = 8, dims = 64)
    },
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |w AS (SELECT plane, w FROM read_parquet('$dumpDir/lsh_planes.parquet/*.parquet')),
         |proj AS (SELECT e.vec_id, w.plane, list_dot_product(e.v, w.w) AS pr
         |         FROM e CROSS JOIN w),
         |buck AS (SELECT vec_id,
         |           CAST(sum(CASE WHEN pr > 0 THEN 1 << plane ELSE 0 END) AS BIGINT) AS b
         |         FROM proj GROUP BY 1),
         |qb AS (SELECT vec_id AS qid,
         |         unnest([b, xor(b,1), xor(b,2), xor(b,4), xor(b,8), xor(b,16),
         |                 xor(b,32), xor(b,64), xor(b,128)]) AS b
         |       FROM buck WHERE vec_id < 3),
         |cand AS (SELECT DISTINCT qb.qid, cb.vec_id AS cid
         |         FROM qb JOIN buck cb ON qb.b = cb.b),
         |scored AS (SELECT qid, cid,
         |             round(list_dot_product(q.v, c.v) /
         |               (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS cos
         |           FROM cand JOIN e q ON q.vec_id = qid JOIN e c ON c.vec_id = cid)
         |SELECT qid, cid, cos,
         |  CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS INTEGER) AS rk
         |FROM scored QUALIFY rk <= 3""".stripMargin),

    // ---- SIM: IVF (inverted-file) ANN — the probe-based scale path --------------
    // deterministic coarse centroids (smallest nlist ids) make the whole
    // operator engine-portable: DuckDB recomputes cells, probes, and exact
    // cosine ranking with no dumps at all
    QuerySpec("ann_ivf_topk", (s, d) => {
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.ivfTopK(q, e.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
        "qid", "qvec", "cid", "cvec", k = 3, nlist = 16, nprobe = 4)
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         cents AS (SELECT vec_id AS cent_id, v AS cv FROM e ORDER BY vec_id LIMIT 16),
         ca AS (SELECT e.vec_id, c.cent_id,
             round(list_dot_product(v, cv) /
               (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 6) AS ccos
           FROM e CROSS JOIN cents c),
         corpuscell AS (SELECT vec_id, cent_id FROM (
             SELECT vec_id, cent_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS rk
             FROM ca) WHERE rk = 1),
         querycell AS (SELECT vec_id AS qid, cent_id FROM (
             SELECT vec_id, cent_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS rk
             FROM ca WHERE vec_id < 3) WHERE rk <= 4),
         cand AS (SELECT DISTINCT qid, cc.vec_id AS cid
           FROM querycell qc JOIN corpuscell cc ON qc.cent_id = cc.cent_id),
         scored AS (SELECT qid, cid,
             round(list_dot_product(q.v, c.v) /
               (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS cos
           FROM cand JOIN e q ON q.vec_id = qid JOIN e c ON c.vec_id = cid)
         SELECT qid, cid, cos,
           CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS INTEGER) AS rk
         FROM scored QUALIFY rk <= 3"""))
}
