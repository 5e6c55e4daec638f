package graft.queries

import org.apache.spark.sql.functions._
import graft.pipeline.TextFunctions._

/** Oracle-checked corpus for the text-analysis pipeline functions over the
  * `documents` fixture (doc_id, text, lang, source, n_chars). Each oracle is
  * the exact DuckDB expression form of the Spark function — same operation
  * tree, same determinism conventions (floor-micros, per-step mod).
  */
object TextQueries {

  private val stopList = "['the','a','of','and','to','in','is']"

  // Oracle-assumption pins proven once per (immutable) corpus dir — the
  // per-run scan was pure steady-state overhead (r19 bench).
  private val asciiChecked =
    scala.collection.concurrent.TrieMap.empty[String, Unit]

  /** Shared oracle replay of the CCNet-style trigram-LM scorer
    * ([[graft.pipeline.NgramLM]]): train add-one-smoothed trigram costs on
    * the corpus split (doc_id % 5 <> 0), score the batch split. Costs are
    * quantized per DISTINCT gram (floor-micros of the float32 -ln p — the
    * float32 round absorbs double-vs-double drift), so the per-doc rollup
    * is exact integer arithmetic in both engines. The engine groups by
    * xxhash64(gram); the oracle groups by the string (2^-64 bet). */
  private val lmCte =
    raw"WITH dd AS (SELECT doc_id, list_filter(string_split_regex(trim(text),'\s+'), t -> t <> '') w " +
    "FROM documents), " +
    "pos AS (SELECT doc_id, unnest(generate_series(1, len(w)-2)) AS p, w " +
    "FROM dd WHERE len(w) >= 3), " +
    "gr AS (SELECT doc_id, array_to_string(w[p:p+2],' ') AS gram, " +
    "array_to_string(w[p:p+1],' ') AS ctx FROM pos), " +
    "v AS (SELECT count(DISTINCT tok) AS vs FROM " +
    "(SELECT unnest(w) AS tok FROM dd WHERE doc_id % 5 <> 0)), " +
    "gc AS (SELECT gram, ctx, count(*) AS c FROM gr " +
    "WHERE doc_id % 5 <> 0 GROUP BY gram, ctx), " +
    "cc AS (SELECT ctx, sum(c) AS cc FROM gc GROUP BY ctx), " +
    "gcost AS (SELECT gram, floor(((-ln((c+1)::DOUBLE/(cc+vs)::DOUBLE))" +
    "::FLOAT)::DOUBLE*1000000)::BIGINT AS cost FROM gc JOIN cc USING (ctx), v), " +
    "ccost AS (SELECT ctx, floor(((-ln(1::DOUBLE/(cc+vs)::DOUBLE))" +
    "::FLOAT)::DOUBLE*1000000)::BIGINT AS cost FROM cc, v), " +
    "dflt AS (SELECT floor(((-ln(1::DOUBLE/vs::DOUBLE))" +
    "::FLOAT)::DOUBLE*1000000)::BIGINT AS cost FROM v), " +
    "probe AS (SELECT g.doc_id, coalesce(g2.cost, c2.cost, " +
    "(SELECT cost FROM dflt)) AS cost FROM gr g " +
    "LEFT JOIN gcost g2 USING (gram) LEFT JOIN ccost c2 ON g.ctx = c2.ctx " +
    "WHERE g.doc_id % 5 = 0), " +
    "per AS (SELECT doc_id, count(*) AS n, sum(cost) AS s FROM probe " +
    "GROUP BY doc_id), " +
    "res AS (SELECT dd.doc_id, coalesce(per.n,0)::BIGINT AS grams_scored, " +
    "coalesce(per.s,0)::BIGINT AS cost_sum_micros, " +
    "(CASE WHEN coalesce(per.n,0)=0 THEN 0 ELSE per.s // per.n END)::BIGINT " +
    "AS avg_cost_micros FROM dd LEFT JOIN per USING (doc_id) " +
    "WHERE dd.doc_id % 5 = 0) "

  val defs: Map[String, QueryDef] = Map(

    // Tokenization: whitespace tokens + BPE-ish lexer tokens.
    "q_text_tokens" -> QueryDef(
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          tokenCount(col("text")).as("n_tokens"),
          size(byteishTokens(col("text"))).as("n_btokens")),
      Some(raw"SELECT doc_id, len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS n_tokens, " +
        raw"len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS n_btokens " +
        "FROM documents")),

    // Distinct 3-word shingles per document (the MinHash input).
    "q_text_shingles" -> QueryDef(
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          size(shingles(col("text"), 3)).as("n_shingles")),
      Some(raw"WITH dd AS (SELECT doc_id, list_filter(string_split_regex(trim(text),'\s+'), t -> t <> '') w " +
        "FROM documents) " +
        "SELECT doc_id, len(list_distinct([w[i]||' '||w[i+1]||' '||w[i+2] " +
        "for i in generate_series(1, len(w)-2)])) AS n_shingles FROM dd")),

    // Language-ID heuristic, aggregated to predicted-language counts.
    "q_text_lang" -> QueryDef(
      (s, d) => t(s, d, "documents")
        .select(langId(col("text")).as("lang_pred"))
        .groupBy(col("lang_pred")).agg(count(lit(1)).as("n")),
      Some(raw"WITH dd AS (SELECT doc_id, list_distinct(list_filter(string_split_regex(trim(text),'\s+'), t -> t <> '')) w " +
        "FROM documents), sc AS (SELECT doc_id, " +
        s"len(list_intersect(w, $stopList)) s_en, " +
        "len(list_intersect(w, ['der','die','das','und','ist'])) s_de, " +
        "len(list_intersect(w, ['le','les','et','est'])) s_fr, " +
        "len(list_intersect(w, ['el','los','y','es'])) s_es FROM dd) " +
        "SELECT CASE WHEN s_en=0 AND s_de=0 AND s_fr=0 AND s_es=0 THEN 'und' " +
        "WHEN s_en>=s_de AND s_en>=s_fr AND s_en>=s_es THEN 'en' " +
        "WHEN s_de>=s_fr AND s_de>=s_es THEN 'de' " +
        "WHEN s_fr>=s_es THEN 'fr' ELSE 'es' END AS lang_pred, " +
        "count(*) AS n FROM sc GROUP BY 1")),

    // Quality score (floor-micros determinism convention).
    "q_text_quality" -> QueryDef(
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), qualityMicros(col("text")).as("quality_micros")),
      Some(raw"WITH dd AS (SELECT doc_id, text, list_filter(string_split_regex(trim(text),'\s+'), t -> t <> '') w " +
        "FROM documents) SELECT doc_id, CASE WHEN length(text)=0 OR len(w)=0 THEN 0 ELSE floor((" +
        s"0.4 * (len(list_filter(w, t -> list_contains($stopList, t)))::DOUBLE / len(w)) " +
        "+ 0.4 * (length(regexp_replace(text,'[^A-Za-z]','','g'))::DOUBLE / length(text)) " +
        "+ 0.2 * least(len(w)::DOUBLE / 100.0, 1.0)) * 1000000)::BIGINT END " +
        "AS quality_micros FROM dd")),

    // Rolling-hash fingerprint (per-step mod 1e9+7). Computed by the JIT'd
    // Scala twin (the expression form pays an interpreted per-character
    // substr; equality of the two is spec-asserted incl. non-ASCII).
    "q_text_fingerprint" -> QueryDef(
      (s, d) => {
        import s.implicits._
        t(s, d, "documents")
          .select(col("doc_id"), col("text")).as[(Long, String)]
          .map { case (id, txt) =>
            (id, graft.pipeline.TextFunctions.fingerprintScala(txt))
          }
          .toDF("doc_id", "fp")
      },
      Some("SELECT doc_id, CASE WHEN length(text)=0 THEN 0 ELSE " +
        "list_reduce(list_prepend(0::BIGINT, " +
        "list_transform(string_split(text,''), c -> unicode(c)::BIGINT)), " +
        "(a, b) -> (a*31 + b) % 1000000007) END AS fp FROM documents")),

    // Corpus vocabulary: global token frequencies, top-20 (explode →
    // partial-agg'd count; the shuffle carries (token, partial count), not
    // documents — the shape that holds at corpus scale).
    "q_text_vocab" -> QueryDef(
      (s, d) => t(s, d, "documents")
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(20),
      Some(raw"SELECT token, count(*) AS n FROM (SELECT unnest(" +
        raw"list_filter(string_split_regex(trim(text),'\s+'), t -> t <> '')) " +
        "AS token FROM documents) GROUP BY token " +
        "ORDER BY n DESC, token LIMIT 20")),

    // TF-IDF: per-(doc, token) term frequency × ln(N/df). One explode +
    // two hash aggs + a broadcast join of the (token, df) side — no
    // all-pairs anything. Both engines evaluate the identical IEEE double
    // expression tree (tf·ln(N/df)·1e6, floored), so micro-units compare
    // exactly. N comes from Parquet footers (Stats.rowCount, I6 CalcCount
    // path) — no extra scan job for a scalar (VERDICT r4 #5).
    "q_text_tfidf" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
        val n = graft.stats.Stats.rowCount(s"$d/documents.parquet")
        val tf = docs
          .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
          .groupBy(col("doc_id"), col("token"))
          .agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy(col("token"))
          .agg(count(lit(1)).as("df"))
        tf.join(broadcast(dfreq), "token")
          .select(col("doc_id"), col("token"),
            floor(col("tf") * log(lit(n.toDouble) / col("df")) * 1000000)
              .cast("long").as("tfidf_micros"))
      },
      Some(raw"WITH tok AS (SELECT doc_id, unnest(" +
        raw"list_filter(string_split_regex(trim(text),'\s+'), t -> t <> '')) " +
        "AS token FROM documents), " +
        "tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2), " +
        "dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1) " +
        "SELECT doc_id, token, CAST(floor(tf * ln(" +
        "(SELECT count(*) FROM documents)::DOUBLE / df) * 1000000) AS BIGINT) " +
        "AS tfidf_micros FROM tf JOIN dfreq USING (token)")),

    // REPETITION FILTERS (the Gopher/RefinedWeb rule family — boilerplate
    // and template spam repeat phrases): duplicate-bigram fraction
    // (1 − distinct/total) and modal-bigram fraction (top count/total),
    // micro-floored exact rational arithmetic. Pure codegen expression
    // trees, O(distinct × total) per row worst case.
    "q_text_repetition" -> QueryDef(
      (s, d) => {
        // one bound n-gram build per row; subexpression elimination keeps
        // the shared struct single-evaluated across the two field reads
        val rep = repetitionMicros(col("text"), 2)
        t(s, d, "documents")
          .select(col("doc_id"),
            rep.getField("dup_micros").as("dup2_micros"),
            rep.getField("top_micros").as("top2_micros"))
      },
      Some(raw"WITH dd AS (SELECT doc_id, " +
        raw"list_filter(string_split_regex(trim(text),'\s+'), t -> t <> '') w " +
        "FROM documents), " +
        "gg AS (SELECT doc_id, [w[i]||' '||w[i+1] " +
        "for i in generate_series(1, len(w)-1)] AS g FROM dd) " +
        "SELECT doc_id, " +
        "CASE WHEN len(g) = 0 THEN 0 ELSE CAST(floor((1.0 - " +
        "len(list_distinct(g)) / len(g)) * 1000000) AS BIGINT) END AS dup2_micros, " +
        "CASE WHEN len(g) = 0 THEN 0 ELSE CAST(floor(" +
        "list_max(list_transform(list_distinct(g), " +
        "d -> len(list_filter(g, x -> x = d)))) / len(g) * 1000000) AS BIGINT) " +
        "END AS top2_micros FROM gg")),

    // PII MASKING (r12): the redaction pass. The fixture texts carry no
    // PII, so the gate plants a deterministic contact trailer per doc
    // (same concatenation in both engines) — masking it back out checks
    // the regex DIALECT parity (Java regex vs DuckDB's RE2) over the full
    // corpus, not just the operator's own spec fixtures.
    // GOPHER QUALITY RULES (r12): the published MassiveText filter inputs
    // as exact integers (word count, mean word length, symbol-word and
    // alphabetic-word fractions, required-stopword hits) plus the pass
    // decision over integer thresholds — both engines decide identically.
    "q_text_gopher" -> QueryDef(
      (s, d) => {
        val st = gopherStats(col("text"))
        t(s, d, "documents").select(col("doc_id"),
            st.as("st"))
          .select(col("doc_id"),
            col("st.n_words").as("n_words"),
            col("st.mean_word_len_milli").as("mean_word_len_milli"),
            col("st.symbol_ratio_micros").as("symbol_ratio_micros"),
            col("st.alpha_frac_micros").as("alpha_frac_micros"),
            col("st.stop_hits").as("stop_hits"),
            gopherPass(col("st")).as("pass"))
      },
      Some(raw"WITH dd AS (SELECT doc_id, list_filter(string_split_regex(trim(text),'\s+'), t -> t <> '') w " +
        "FROM documents), st AS (SELECT doc_id, len(w) AS n, " +
        "coalesce(list_sum(list_transform(w, t -> length(t))), 0) AS tl, " +
        "len(list_filter(w, t -> regexp_matches(t, '[A-Za-z]'))) AS aw, " +
        "coalesce(list_sum(list_transform(w, t -> " +
        "(length(t) - length(replace(t, '#', ''))) + " +
        "(length(t) - length(replace(t, '...', ''))) // 3)), 0) AS sw, " +
        "len(list_intersect(list_distinct(w), " +
        "['the','be','to','of','and','that','have','with'])) AS sh FROM dd), " +
        "ex AS (SELECT doc_id, n::BIGINT AS n_words, " +
        "(CASE WHEN n=0 THEN 0 ELSE floor(1000.0*tl/n) END)::BIGINT AS mean_word_len_milli, " +
        "(CASE WHEN n=0 THEN 0 ELSE floor(1000000.0*sw/n) END)::BIGINT AS symbol_ratio_micros, " +
        "(CASE WHEN n=0 THEN 0 ELSE floor(1000000.0*aw/n) END)::BIGINT AS alpha_frac_micros, " +
        "sh::BIGINT AS stop_hits FROM st) " +
        "SELECT *, (n_words BETWEEN 50 AND 100000 " +
        "AND mean_word_len_milli BETWEEN 3000 AND 10000 " +
        "AND symbol_ratio_micros <= 100000 AND alpha_frac_micros >= 800000 " +
        "AND stop_hits >= 2) AS pass FROM ex")),

    // REAL BPE tokenization (r13): the GPT-2-format tokenizer (published
    // pre-tokenizer regex, bytes→unicode table, ranked merge loop,
    // vocab.json ids) over the corpus, with the ` the`/` of` merge chains.
    // The oracle replays the chains' closed form (single-spaced lowercase
    // corpus, LIKE-cascade prefix match) and the id of the first token
    // (first word carries no leading space → its first byte's id).
    "q_text_bpe" -> QueryDef(
      (s, d) => {
        val dir = PipelineQueries.bpeArtifact()
        graft.embed.Bpe.tokenizeStage(
            t(s, d, "documents").select(col("doc_id"), col("text")),
            "text", dir, idsCol = "ids", countCol = "n")
          .select(col("doc_id"), col("n").cast("long").as("n_bpe"),
            element_at(col("ids"), 1).cast("long").as("t0"))
      },
      Some(raw"WITH dd AS (SELECT doc_id, text, list_filter(string_split_regex(trim(text),'\s+'), t -> t <> '') w " +
        "FROM documents), " +
        "wt AS (SELECT doc_id, unnest(range(len(w))) AS i, unnest(w) AS t FROM dd), " +
        s"cnt AS (SELECT doc_id, sum(${PipelineQueries.bpeCountSql})::BIGINT AS n_bpe " +
        "FROM wt GROUP BY doc_id) " +
        "SELECT d.doc_id, coalesce(c.n_bpe, 0)::BIGINT AS n_bpe, " +
        "ascii(substr(d.text, 1, 1))::BIGINT AS t0 " +
        "FROM dd d LEFT JOIN cnt c ON d.doc_id = c.doc_id")),

    // SENTENCEPIECE UNIGRAM tokenization (r17 — the third real tokenizer
    // family beside GPT-2 BPE and WordPiece; Kudo 2018's exact Viterbi
    // decode over the HF tokenizer.json artifact): whitespace words take
    // the ▁ boundary mark, the DP picks the max-logprob piece cover. The
    // fixture vocab's two multi-char pieces make the segmentation a
    // closed form the oracle replays per word-prefix CASE.
    "q_text_spm" -> QueryDef(
      (s, d) => {
        val dir = PipelineQueries.spmArtifact()
        // the oracle's per-word CASE replays char-level ids via
        // codepoints (and DuckDB len() counts codepoints where the
        // engine's Viterbi walks UTF-16 units) — pin the printable-ASCII
        // assumption loudly (review r17-3), like the decoder-spm gate
        // one early-exit regex scan, MEMOIZED per corpus dir (r19 bench:
        // the old per-run split("")+ascii transform was ~60% of the
        // gate; the corpus is immutable, so proving the assumption once
        // per session is the same pin)
        asciiChecked.getOrElseUpdate(d, {
          val bad = t(s, d, "documents")
            .filter(col("text").rlike("[^ -~]")).limit(1)
            .select(col("doc_id")).collect()
          require(bad.isEmpty,
            s"q_text_spm oracle assumes printable-ASCII text; doc " +
              s"${bad.headOption.map(_.get(0)).orNull} carries " +
              "codepoints outside [32, 126]")
        })
        graft.embed.SentencePiece.tokenizeStage(
            t(s, d, "documents").select(col("doc_id"), col("text")),
            "text", dir, idsCol = "ids", countCol = "n")
          .select(col("doc_id"), col("n").cast("long").as("n_spm"),
            element_at(col("ids"), 1).cast("long").as("t0"))
      },
      Some(raw"WITH dd AS (SELECT doc_id, text, list_filter(string_split_regex(trim(text),'\s+'), t -> t <> '') w " +
        "FROM documents), " +
        "wt AS (SELECT doc_id, unnest(w) AS t FROM dd), " +
        "cnt AS (SELECT doc_id, sum(CASE WHEN t LIKE 'the%' THEN len(t) - 2 " +
        "WHEN t LIKE 'of%' THEN len(t) - 1 ELSE len(t) + 1 END)::BIGINT AS n_spm " +
        "FROM wt GROUP BY doc_id) " +
        "SELECT d.doc_id, coalesce(c.n_spm, 0)::BIGINT AS n_spm, " +
        "(CASE WHEN len(d.w) = 0 THEN NULL WHEN d.w[1] LIKE 'the%' THEN 1 " +
        "WHEN d.w[1] LIKE 'of%' THEN 2 ELSE 3 END)::BIGINT AS t0 " +
        "FROM dd d LEFT JOIN cnt c USING (doc_id)")),

    "q_text_pii" -> QueryDef(
      (s, d) => {
        val planted = concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com visit https://site"), col("doc_id").cast("string"),
          lit(".org/path?id="), col("doc_id").cast("string"),
          lit(" ref 12345678"))
        t(s, d, "documents")
          .select(col("doc_id"), maskPii(planted).as("masked"))
      },
      Some("SELECT doc_id, " +
        "regexp_replace(regexp_replace(regexp_replace(" +
        "text || ' contact user' || doc_id || '@example.com visit " +
        "https://site' || doc_id || '.org/path?id=' || doc_id || ' ref 12345678', " +
        raw"'https?://[^\s]+', '<URL>', 'g'), " +
        raw"'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), " +
        "'[0-9]{7,}', '<NUM>', 'g') AS masked FROM documents")),

    // TRIGRAM-LM PERPLEXITY (r14 — the CCNet model-based quality score):
    // train an add-one-smoothed trigram LM on the corpus split, score the
    // batch split (the crawl-ingest flow; the batch naturally exercises
    // the unseen-gram and unseen-context backoff paths). Per-doc numbers
    // are exact long sums of per-distinct-gram quantized costs.
    "q_text_ppl" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
        val corpus = docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0L)
        val batch = docs.filter(pmod(col("doc_id"), lit(5L)) === 0L)
        graft.pipeline.NgramLM.scoreDocs(batch, "doc_id", "text",
          graft.pipeline.NgramLM.train(corpus, "text", 3), 3)
      },
      Some(lmCte + "SELECT * FROM res")),

    // Same numbers through the PERSISTED model store (train once, probe
    // batches without corpus rescans).
    "q_text_ppl_store" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
        val corpus = docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0L)
        val batch = docs.filter(pmod(col("doc_id"), lit(5L)) === 0L)
        val store = graft.tables.Derived.path(d, "lmstore_documents")
        if (!new java.io.File(store, "_SUCCESS").isFile)
          graft.pipeline.NgramLM.writeLM(corpus, "text", store, 3)
        graft.pipeline.NgramLM.scoreAgainstStore(batch, store,
          "doc_id", "text", 3)
      },
      Some(lmCte + "SELECT * FROM res")),

    // CCNet head/middle/tail bucketing of the batch scores. No
    // global-order window over docs: cumulative counts run over the
    // DISTINCT-score aggregate and join back; score ties share a bucket.
    "q_text_ppl_bucket" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
        val corpus = docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0L)
        val batch = docs.filter(pmod(col("doc_id"), lit(5L)) === 0L)
        graft.pipeline.NgramLM.pplBuckets(
          graft.pipeline.NgramLM.scoreDocs(batch, "doc_id", "text",
            graft.pipeline.NgramLM.train(corpus, "text", 3), 3),
          "doc_id", 3)
      },
      Some(lmCte +
        ", ps AS (SELECT avg_cost_micros AS m, count(*) AS cnt FROM res " +
        "GROUP BY 1), " +
        "asg AS (SELECT m, coalesce(sum(cnt) OVER (ORDER BY m " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum, " +
        "sum(cnt) OVER () AS total FROM ps) " +
        "SELECT r.doc_id, r.avg_cost_micros, " +
        "(1 + (a.cum * 3) // a.total)::BIGINT AS bucket " +
        "FROM res r JOIN asg a ON r.avg_cost_micros = a.m"))
  )
}
