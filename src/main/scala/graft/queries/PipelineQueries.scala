package graft.queries

import org.apache.spark.sql.functions._
import graft.embed.Embeddings
import graft.pipeline.Multimodal

/** Oracle-checked corpus for the embedding stage (K8) and the multimodal
  * column convention — both run their REAL distributed path (mapPartitions
  * with per-partition provider/decoder instances); the oracles replicate the
  * deterministic stub math in SQL.
  */
object PipelineQueries {

  // Oracle-assumption pins proven once per (immutable) corpus dir — the
  // per-run scan was pure steady-state overhead (r19 bench).
  private val spmOracleChecked =
    scala.collection.concurrent.TrieMap.empty[String, Unit]

  // Same memoization for the other truncation pins (r21, guide §1.4: the
  // pin is a property of the IMMUTABLE corpus directory, not of the query's
  // computation — q_embed_transformer/_wp, q_embed_decoder/_rope,
  // q_pipeline_v4 and q_semantic_transformer each ran a full corpus scan +
  // driver collect per TIMED invocation just to re-prove it). The check
  // still runs on first touch of each (gate, dir) pair, so a corpus change
  // fails loudly exactly as before.
  private val oraclePinChecked =
    scala.collection.concurrent.TrieMap.empty[(String, String), Unit]
  private def pinOnce(gate: String, dir: String)(check: => Unit): Unit =
    oraclePinChecked.getOrElseUpdate((gate, dir), check)

  val defs: Map[String, QueryDef] = Map(

    // FLAGSHIP composition — the canonical training-data curation pipeline
    // over `documents`, every stage an engine operator: language-ID filter
    // (en) → quality-score filter → MinHash+LSH near-dup removal (drop the
    // larger id of each verified pair — the same rule on both sides) →
    // token accounting of the survivors. The oracle replays the whole
    // pipeline in SQL from the stage oracles of q_text_lang/_quality,
    // q_dedup_near and q_text_tokens. 100 TB shape: two codegen'd filter
    // scans, one banded-LSH equi-join on (id, band-key) longs, and an
    // ids-only anti-join — token counts are computed BEFORE it, so its
    // shuffle carries (doc_id, n_tokens) pairs, never documents (at corpus
    // scale the drop list is as big as the duplicate population, so an
    // id-keyed shuffle join, not a broadcast, is the durable shape).
    "q_pipeline_e2e" -> QueryDef(
      (s, d) => {
        import graft.pipeline.TextFunctions
        val docs = t(s, d, "documents")
          .filter(TextFunctions.langId(col("text")) === "en" &&
            TextFunctions.qualityMicros(col("text")) >= 400000L)
        val pairs = graft.pipeline.Dedup.nearPairs(docs, "doc_id", "text",
          shingleN = 3, threshold = 0.8)
        val dropIds = pairs.select(col("b").as("doc_id")).distinct()
        docs.select(col("doc_id"),
            TextFunctions.tokenCount(col("text")).as("n_tokens"))
          .join(dropIds, Seq("doc_id"), "left_anti")
      },
      Some(raw"WITH dd AS (SELECT doc_id, text, " +
        raw"list_filter(string_split_regex(trim(text),'\s+'), t -> t <> '') w FROM documents), " +
        "scored AS (SELECT doc_id, text, w, " +
        "len(list_intersect(list_distinct(w), ['the','a','of','and','to','in','is'])) s_en, " +
        "len(list_intersect(list_distinct(w), ['der','die','das','und','ist'])) s_de, " +
        "len(list_intersect(list_distinct(w), ['le','les','et','est'])) s_fr, " +
        "len(list_intersect(list_distinct(w), ['el','los','y','es'])) s_es, " +
        "CASE WHEN length(text)=0 OR len(w)=0 THEN 0 ELSE floor((" +
        "0.4 * (len(list_filter(w, t -> list_contains(['the','a','of','and','to','in','is'], t)))::DOUBLE / len(w)) " +
        "+ 0.4 * (length(regexp_replace(text,'[^A-Za-z]','','g'))::DOUBLE / length(text)) " +
        "+ 0.2 * least(len(w)::DOUBLE / 100.0, 1.0)) * 1000000)::BIGINT END AS qm FROM dd), " +
        "filt AS (SELECT doc_id, text, w FROM scored " +
        "WHERE (CASE WHEN s_en=0 AND s_de=0 AND s_fr=0 AND s_es=0 THEN 'und' " +
        "WHEN s_en>=s_de AND s_en>=s_fr AND s_en>=s_es THEN 'en' " +
        "WHEN s_de>=s_fr AND s_de>=s_es THEN 'de' " +
        "WHEN s_fr>=s_es THEN 'fr' ELSE 'es' END) = 'en' AND qm >= 400000), " +
        "sh AS (SELECT doc_id, list_distinct([w[i]||' '||w[i+1]||' '||w[i+2] " +
        "for i in generate_series(1, len(w)-2)]) s FROM filt), " +
        "drop_ids AS (SELECT DISTINCT b.doc_id AS doc_id FROM sh a " +
        "JOIN sh b ON a.doc_id < b.doc_id " +
        "WHERE len(list_intersect(a.s, b.s))::DOUBLE / " +
        "len(list_distinct(a.s || b.s)) >= 0.8) " +
        "SELECT f.doc_id, len(f.w) AS n_tokens FROM filt f " +
        "WHERE f.doc_id NOT IN (SELECT doc_id FROM drop_ids)")),

    // FLAGSHIP v2 (r12) — the full curation chain with the round-12
    // operators composed in: lang-ID → quality → REPETITION filter
    // (duplicate-bigram fraction < 0.1) → MinHash+LSH near-dup removal →
    // DETERMINISTIC MIXTURE SAMPLING (per-source recipe rates) → token
    // accounting. One declarative plan; the oracle replays every stage in
    // SQL including the exact integer mixing thresholds.
    "q_pipeline_v2" -> QueryDef(
      (s, d) => {
        import graft.pipeline.{Dedup, Mix, TextFunctions}
        val docs = t(s, d, "documents")
          .filter(TextFunctions.langId(col("text")) === "en" &&
            TextFunctions.qualityMicros(col("text")) >= 400000L &&
            TextFunctions.dupNgramRatioMicros(col("text"), 2) < 100000L)
        val pairs = Dedup.nearPairs(docs, "doc_id", "text",
          shingleN = 3, threshold = 0.8)
        val dropIds = pairs.select(col("b").as("doc_id")).distinct()
        val deduped = docs.join(dropIds, Seq("doc_id"), "left_anti")
        val rates = (0 until 20).map(k => s"src$k" -> (k + 1) / 20.0).toMap
        Mix.bySource(deduped, "doc_id", "source", rates)
          .select(col("doc_id"),
            TextFunctions.tokenCount(col("text")).as("n_tokens"))
      },
      Some {
        val whens = (0 until 20).map(k =>
          s"WHEN 'src$k' THEN ${graft.pipeline.Mix.threshold((k + 1) / 20.0)}")
          .mkString(" ")
        raw"WITH dd AS (SELECT doc_id, text, source, " +
          raw"list_filter(string_split_regex(trim(text),'\s+'), t -> t <> '') w FROM documents), " +
          "scored AS (SELECT doc_id, text, source, w, " +
          "len(list_intersect(list_distinct(w), ['the','a','of','and','to','in','is'])) s_en, " +
          "len(list_intersect(list_distinct(w), ['der','die','das','und','ist'])) s_de, " +
          "len(list_intersect(list_distinct(w), ['le','les','et','est'])) s_fr, " +
          "len(list_intersect(list_distinct(w), ['el','los','y','es'])) s_es, " +
          "CASE WHEN length(text)=0 OR len(w)=0 THEN 0 ELSE floor((" +
          "0.4 * (len(list_filter(w, t -> list_contains(['the','a','of','and','to','in','is'], t)))::DOUBLE / len(w)) " +
          "+ 0.4 * (length(regexp_replace(text,'[^A-Za-z]','','g'))::DOUBLE / length(text)) " +
          "+ 0.2 * least(len(w)::DOUBLE / 100.0, 1.0)) * 1000000)::BIGINT END AS qm, " +
          "CASE WHEN len(w) < 2 THEN 0 ELSE floor((1.0 - " +
          "len(list_distinct([w[i]||' '||w[i+1] for i in generate_series(1, len(w)-1)]))::DOUBLE " +
          "/ len([w[i]||' '||w[i+1] for i in generate_series(1, len(w)-1)])) * 1000000)::BIGINT END AS dup2 " +
          "FROM dd), " +
          "filt AS (SELECT doc_id, text, source, w FROM scored " +
          "WHERE (CASE WHEN s_en=0 AND s_de=0 AND s_fr=0 AND s_es=0 THEN 'und' " +
          "WHEN s_en>=s_de AND s_en>=s_fr AND s_en>=s_es THEN 'en' " +
          "WHEN s_de>=s_fr AND s_de>=s_es THEN 'de' " +
          "WHEN s_fr>=s_es THEN 'fr' ELSE 'es' END) = 'en' " +
          "AND qm >= 400000 AND dup2 < 100000), " +
          "sh AS (SELECT doc_id, list_distinct([w[i]||' '||w[i+1]||' '||w[i+2] " +
          "for i in generate_series(1, len(w)-2)]) s FROM filt), " +
          "drop_ids AS (SELECT DISTINCT b.doc_id AS doc_id FROM sh a " +
          "JOIN sh b ON a.doc_id < b.doc_id " +
          "WHERE len(list_intersect(a.s, b.s))::DOUBLE / " +
          "len(list_distinct(a.s || b.s)) >= 0.8) " +
          "SELECT f.doc_id, len(f.w) AS n_tokens FROM filt f " +
          "WHERE f.doc_id NOT IN (SELECT doc_id FROM drop_ids) " +
          s"AND (f.doc_id * 69069 + 12345) % ${graft.pipeline.Mix.Resolution} < " +
          s"CASE f.source $whens ELSE -1 END"
      }),

    // K8 text→embedding stage. normalize=false keeps exact integer counts,
    // so the feature-hash embedding is SQL-checkable: c0 = tokens hashing
    // to bucket 0, norm2 = Σ count². The bucket function is the same
    // rolling hash as TextFunctions.fingerprint, mod dim=16.
    "q_embed_stub" -> QueryDef(
      (s, d) => {
        val emb = Embeddings.embedStage(t(s, d, "documents"), "text", "emb",
          () => Embeddings.HashingProvider(16, normalize = false))
        val counts = transform(col("emb"), x => x.cast("long"))
        emb.select(col("doc_id"),
          element_at(counts, 1).as("c0"),
          aggregate(counts, lit(0L), (a, x) => a + x * x).as("norm2"))
      },
      Some(raw"WITH dd AS (SELECT doc_id, list_filter(string_split_regex(trim(text),'\s+'), t -> t <> '') w " +
        "FROM documents), tok AS (SELECT doc_id, unnest(w) AS t FROM dd), " +
        "hashed AS (SELECT doc_id, list_reduce(list_prepend(0::BIGINT, " +
        "list_transform(string_split(t,''), c -> unicode(c)::BIGINT)), " +
        "(a, b) -> (a*31 + b) % 1000000007) % 16 AS bucket FROM tok), " +
        "counts AS (SELECT doc_id, bucket, count(*)::BIGINT n FROM hashed GROUP BY 1, 2) " +
        "SELECT doc_id, coalesce(sum(n) FILTER (bucket = 0), 0)::BIGINT AS c0, " +
        "sum(n*n)::BIGINT AS norm2 FROM counts GROUP BY doc_id")),

    // K8 LOCAL-MODEL lifecycle (r10 VERDICT #5 — embeddings/src/model/
    // local.rs semantics): the provider loads its weight matrix from a
    // FILE ARTIFACT — once per partition, warm handle across batches,
    // header + dimension validated at load (LocalModelSpec pins the
    // lifecycle) — and embedStage runs it like any other provider. The
    // artifact's weights are deterministic smallint/16 values, so every
    // vector element is exact in float AND double: the oracle replays
    // bucket→weight arithmetic in SQL and compares e0 + the squared norm.
    "q_embed_local" -> QueryDef(
      (s, d) => {
        val art = localArtifact()
        // the provider resolves through the MODEL-ID DISPATCH layer (r12,
        // ref create_model mod.rs:180-204): an unprefixed id is a local
        // artifact path; pre-truncation (512-token budget = 4096 bytes)
        // never fires on this corpus (n_chars <= 553), so the oracle's
        // full-text replay stays exact
        val emb = Embeddings.embedStage(t(s, d, "documents"), "text", "emb",
          () => graft.embed.ModelRegistry.create(art, dim = Some(16)))
        val dbl = transform(col("emb"), x => x.cast("double"))
        emb.select(col("doc_id"),
          round(element_at(dbl, 1), 6).as("e0"),
          round(aggregate(dbl, lit(0.0), (a, x) => a + x * x), 6).as("norm2"))
      },
      Some(raw"WITH dd AS (SELECT doc_id, list_filter(string_split_regex(trim(text),'\s+'), t -> t <> '') w " +
        "FROM documents), tok AS (SELECT doc_id, unnest(w) AS t FROM dd), " +
        "hashed AS (SELECT doc_id, list_reduce(list_prepend(0::BIGINT, " +
        "list_transform(string_split(t,''), c -> unicode(c)::BIGINT)), " +
        "(a, b) -> (a*31 + b) % 1000000007) % 64 AS bucket FROM tok), " +
        "ei AS (SELECT d.doc_id, " +
        (0 until 16).map(i =>
          s"coalesce(sum(((h.bucket*31 + $i) % 97 - 48) / 16.0), 0) AS e$i")
          .mkString(", ") +
        " FROM dd d LEFT JOIN hashed h ON h.doc_id = d.doc_id GROUP BY d.doc_id) " +
        "SELECT doc_id, round(e0, 6) + 0.0 AS e0, round(" +
        (0 until 16).map(i => s"e$i*e$i").mkString(" + ") +
        ", 6) + 0.0 AS norm2 FROM ei")),

    // K8 via SAFETENSORS (r12): the same deterministic weights exported
    // to the PUBLIC interchange format (8-byte LE header len + JSON +
    // raw F32 — parsed by the pure-JVM reader, no Python/native dep) and
    // served through the `safetensors:` model-id dispatch. Same exact
    // arithmetic as q_embed_local, so the same oracle replay.
    "q_embed_safetensors" -> QueryDef(
      (s, d) => {
        val art = safetensorsArtifact()
        val emb = Embeddings.embedStage(t(s, d, "documents"), "text", "emb",
          () => graft.embed.ModelRegistry.create(
            s"safetensors:$art#embedding", dim = Some(16)))
        val dbl = transform(col("emb"), x => x.cast("double"))
        emb.select(col("doc_id"),
          round(element_at(dbl, 1), 6).as("e0"),
          round(aggregate(dbl, lit(0.0), (a, x) => a + x * x), 6).as("norm2"))
      },
      Some(raw"WITH dd AS (SELECT doc_id, list_filter(string_split_regex(trim(text),'\s+'), t -> t <> '') w " +
        "FROM documents), tok AS (SELECT doc_id, unnest(w) AS t FROM dd), " +
        "hashed AS (SELECT doc_id, list_reduce(list_prepend(0::BIGINT, " +
        "list_transform(string_split(t,''), c -> unicode(c)::BIGINT)), " +
        "(a, b) -> (a*31 + b) % 1000000007) % 64 AS bucket FROM tok), " +
        "ei AS (SELECT d.doc_id, " +
        (0 until 16).map(i =>
          s"coalesce(sum(((h.bucket*31 + $i) % 97 - 48) / 16.0), 0) AS e$i")
          .mkString(", ") +
        " FROM dd d LEFT JOIN hashed h ON h.doc_id = d.doc_id GROUP BY d.doc_id) " +
        "SELECT doc_id, round(e0, 6) + 0.0 AS e0, round(" +
        (0 until 16).map(i => s"e$i*e$i").mkString(" + ") +
        ", 6) + 0.0 AS norm2 FROM ei")),

    // K8 TRANSFORMER forward (r13 — the reference's real local-inference
    // path, embeddings/src/model/local.rs: safetensors checkpoint →
    // tokenize → embeddings + N×(self-attention + FFN + LayerNorm) →
    // mean pool → L2 normalize). The checkpoint is a REAL BERT-layout
    // safetensors file (2 layers, 2 heads, hidden 4, intermediate 8,
    // dyadic deterministic weights) written once per process; the gate
    // runs the full encoder DISTRIBUTED via embedStage and emits the
    // normalized vector at full float32 precision. The oracle replays the
    // ENTIRE forward pass in SQL — embeddings, per-head QK^T/√d softmax
    // (max-subtracted, via window functions over the position self-join),
    // attention-weighted V aggregation, output projection + residual +
    // LayerNorm, approximate-GELU FFN (local.rs:903), residual + LayerNorm
    // ×2 layers, mean pool, L2 normalize — in double precision with the
    // same formula structure, then casts to FLOAT: double-vs-double drift
    // (~1e-15) is far inside float32's quantum, so the bits match.
    "q_embed_transformer" -> QueryDef(
      (s, d) => {
        val dir = transformerArtifact()
        val docs = t(s, d, "documents")
        // The oracle replays the 128-position cap but NOT preTruncate's
        // raw-byte cap (cap·8 = 1024 UTF-8 bytes, applied before
        // tokenization on the engine side) — sound only while no document
        // reaches it. PIN the invariant loudly instead of assuming the
        // fixture: a corpus change that could make the two sides diverge
        // fails here, not as a silent hash mismatch.
        pinOnce("q_embed_transformer", d) {
          val maxBytes = docs.select(max(octet_length(col("text").cast("binary"))))
            .head().getInt(0)
          require(maxBytes < Tf.MaxPos * graft.embed.ModelRegistry.BytesPerTokenUpperBound,
            s"q_embed_transformer oracle assumes no pre-truncation; corpus has " +
              s"a $maxBytes-byte document >= ${Tf.MaxPos * 8} — extend the oracle")
        }
        val emb = Embeddings.embedStage(docs, "text", "emb",
          () => graft.embed.ModelRegistry.create(s"transformer:$dir"))
        emb.select(col("doc_id") +:
          (0 until Tf.H).map(i => element_at(col("emb"), i + 1).as(s"e$i")): _*)
      },
      Some(tfOracleSql())),

    // The WORDPIECE + special-token variant (same weights, vocab.txt in
    // the checkpoint dir): the provider tokenizes with the real WordPiece
    // algorithm, wraps `[CLS]`…`[SEP]`, and token ids index the embedding
    // rows DIRECTLY — the BERT input convention end to end. The vocab is
    // the corpus's complete fixed word list, so the oracle replays the
    // lookup as a CASE and shifts positions by the leading [CLS].
    "q_embed_transformer_wp" -> QueryDef(
      (s, d) => {
        val dir = transformerArtifactWp()
        val docs = t(s, d, "documents")
        // same byte-cap pin as the hash gate, plus the [CLS]/[SEP] content
        // budget (cap − 2): the oracle replays NO truncation
        pinOnce("q_embed_transformer_wp", d) {
          val stats = docs.select(
            max(octet_length(col("text").cast("binary"))),
            max(size(split(trim(col("text")), "\\s+")))).head()
          require(stats.getInt(0) < Tf.MaxPos *
              graft.embed.ModelRegistry.BytesPerTokenUpperBound &&
              stats.getInt(1) <= Tf.MaxPos - 2,
            s"q_embed_transformer_wp oracle assumes no truncation; corpus " +
              s"has ${stats.getInt(0)} bytes / ${stats.getInt(1)} words max")
        }
        val emb = Embeddings.embedStage(docs, "text", "emb",
          () => graft.embed.ModelRegistry.create(s"transformer:$dir"))
        emb.select(col("doc_id") +:
          (0 until Tf.H).map(i => element_at(col("emb"), i + 1).as(s"e$i")): _*)
      },
      Some(tfOracleSql(tfTokWpCte))),

    // K8 DECODER forward (r16 — the GPT-style model shape behind the
    // reference's dispatch, embeddings/src/model/mod.rs:65-70; r15 VERDICT
    // #4 closes the last local-model-breadth gap): a REAL GPT-2-layout
    // safetensors checkpoint (wte/wpe + 2 pre-LN causal blocks + ln_f,
    // Conv1D-transposed weights, dyadic deterministic values) served
    // through the `decoder:` model-id dispatch and embedStage. The oracle
    // replays the ENTIRE causal forward in SQL — wte+wpe closed forms (no
    // embedding LN), per-block pre-LN, CAUSAL QK^T/√d softmax (the score
    // join keeps only b.pos <= a.pos), V aggregation, projection +
    // pre-LN residuals, approximate-GELU FFN, final ln_f, LAST-TOKEN
    // pooling (the decoder-embedder convention: only the last position
    // attended to everything), L2 normalize — in double precision, cast
    // to FLOAT: the bits match as in q_embed_transformer.
    "q_embed_decoder" -> QueryDef(
      (s, d) => {
        val dir = decoderArtifact()
        val docs = t(s, d, "documents")
        // same no-pre-truncation pin as q_embed_transformer
        pinOnce("q_embed_decoder", d) {
          val maxBytes = docs.select(max(octet_length(col("text").cast("binary"))))
            .head().getInt(0)
          require(maxBytes < Dtf.MaxPos * graft.embed.ModelRegistry.BytesPerTokenUpperBound,
            s"q_embed_decoder oracle assumes no pre-truncation; corpus has " +
              s"a $maxBytes-byte document >= ${Dtf.MaxPos * 8} — extend the oracle")
        }
        val emb = Embeddings.embedStage(docs, "text", "emb",
          () => graft.embed.ModelRegistry.create(s"decoder:$dir"))
        emb.select(col("doc_id") +:
          (0 until Dtf.H).map(i => element_at(col("emb"), i + 1).as(s"e$i")): _*)
      },
      Some(decOracleSql())),

    // The ROTARY decoder (r16): same causal forward, positions as Q/K
    // rotations (RoPE — the GPT-NeoX/LLaMA mechanism; no learned table,
    // relative positions enter attention as rotation differences). The
    // oracle adds the rotation CTE (cos/sin columns; with head dim 2 the
    // angle IS the position) and drops the wpe term — everything else is
    // the q_embed_decoder replay. Both engines compute the rotation in
    // double; libm-vs-DuckDB cos/sin drift (~1 ulp) vanishes under the
    // float32 cast, as with tanh in the GELU replay.
    "q_embed_decoder_rope" -> QueryDef(
      (s, d) => {
        val dir = decoderRopeArtifact()
        val docs = t(s, d, "documents")
        pinOnce("q_embed_decoder_rope", d) {
          val maxBytes = docs.select(max(octet_length(col("text").cast("binary"))))
            .head().getInt(0)
          require(maxBytes < Dtf.MaxPos * graft.embed.ModelRegistry.BytesPerTokenUpperBound,
            s"q_embed_decoder_rope oracle assumes no pre-truncation; corpus " +
              s"has a $maxBytes-byte document >= ${Dtf.MaxPos * 8}")
        }
        val emb = Embeddings.embedStage(docs, "text", "emb",
          () => graft.embed.ModelRegistry.create(s"decoder:$dir"))
        emb.select(col("doc_id") +:
          (0 until Dtf.H).map(i => element_at(col("emb"), i + 1).as(s"e$i")): _*)
      },
      Some(decOracleSql(rope = true))),

    // The ROPE DECODER through its NATURAL tokenizer (r17, VERDICT r16
    // missing #2): a tokenizer.json beside the weights flips the provider
    // to the SentencePiece UNIGRAM family — whitespace words get the ▁
    // boundary mark and an exact Viterbi decode over the checkpoint's own
    // vocab (the LLaMA/GPT-NeoX convention the RoPE family ships) — and
    // the ids feed the same rotary causal forward. The oracle replays the
    // Viterbi's closed form (the fixture vocab makes tokens-per-word a
    // prefix CASE) and the full RoPE forward.
    "q_embed_decoder_spm" -> QueryDef(
      (s, d) => {
        val dir = decoderSpmArtifact()
        val docs = t(s, d, "documents")
        // the oracle replays char ids via codepoints; a char outside the
        // fixture vocab maps to unk on the engine side (review r17-3 —
        // assert the assumption loudly, like the truncation pin).
        // Deliberately over-strict (whitespace other than ' ' would
        // actually tokenize identically): a failure asks to extend the
        // oracle instead of surfacing as a hash mismatch. Proven ONCE per
        // immutable corpus dir with an early-exit regex, not a per-run
        // per-char array per doc (r19 bench).
        spmOracleChecked.getOrElseUpdate(d, {
          val maxBytes = docs.select(
            max(octet_length(col("text").cast("binary")))).head().getInt(0)
          require(maxBytes < Dtf.MaxPos * graft.embed.ModelRegistry.BytesPerTokenUpperBound,
            s"q_embed_decoder_spm oracle assumes no pre-truncation; corpus " +
              s"has a $maxBytes-byte document >= ${Dtf.MaxPos * 8}")
          val bad = docs.filter(col("text").rlike("[^ -~]")).limit(1)
            .select(col("doc_id")).collect()
          require(bad.isEmpty,
            s"q_embed_decoder_spm oracle assumes printable-ASCII text; " +
              s"doc ${bad.headOption.map(_.get(0)).orNull} carries " +
              "codepoints outside [32, 126]")
        })
        val emb = Embeddings.embedStage(docs, "text", "emb",
          () => graft.embed.ModelRegistry.create(s"decoder:$dir"))
        emb.select(col("doc_id") +:
          (0 until Dtf.H).map(i => element_at(col("emb"), i + 1).as(s"e$i")): _*)
      },
      Some(decOracleSql(rope = true, tokCte = Some(spmTokCte)))),

    // FLAGSHIP v4 (r13): this round's operators composed in ONE
    // declarative pipeline — real BPE token accounting → real transformer
    // embeddings (WordPiece + [CLS]/[SEP]) → embedding-cosine near-dup
    // removal (drop the larger id of each >= 0.9999 pair) → deterministic
    // exact-3-per-source stratified sample THROUGH the new estimate-driven
    // prefilter (minGroupRows exercises the prefilter+rescue branch
    // in-gate; the oracle replays the PLAIN selection, pinning its
    // exactness against an independent engine). The oracle replays every
    // stage: the full encoder forward as CTEs, all-pairs cosine, the BPE
    // chain closed form, and the LCG hash rank. 100 TB note: the pair
    // stage goes through the SCALE-AWARE `Dedup.cosinePairs` dispatcher
    // (r13 VERDICT #1; floor rule r14 VERDICT #4: blocked only when
    // dim >= max(16, 2·⌈log₂(n)⌉) with n from the metadata-only row
    // estimate — sign buckets discriminate only when dim ≫ log₂(n)): at
    // real embedding widths it takes the hyperplane-LSH blocked path
    // (banded equi-self-join + verify, never all-pairs — gated on the
    // 64-dim table by q_dedup_embed_lsh and contrasted in BENCH_SF1); at
    // this gate's hidden-4 width it measured 13× SLOWER blocked than
    // exact (sign buckets cannot discriminate in dim 4 — the corpus
    // collapses into a handful of sign patterns), so the dispatcher
    // correctly picks the exact join here whatever the corpus size. The
    // oracle is the exact cross-join either way.
    "q_pipeline_v4" -> QueryDef(
      (s, d) => {
        val dir = transformerArtifactWp()
        val docs = t(s, d, "documents")
        pinOnce("q_pipeline_v4", d) {
          val stats0 = docs.select(
            max(octet_length(col("text").cast("binary"))),
            max(size(split(trim(col("text")), "\\s+")))).head()
          require(stats0.getInt(0) < Tf.MaxPos *
              graft.embed.ModelRegistry.BytesPerTokenUpperBound &&
              stats0.getInt(1) <= Tf.MaxPos - 2,
            "q_pipeline_v4 oracle assumes no truncation")
        }
        val counted = graft.embed.Bpe.tokenizeStage(
          docs.select(col("doc_id"), col("source"), col("text")),
          "text", bpeArtifact(), countCol = "n_bpe")
        // The embedded frame feeds FOUR consumers (the pair stage and the
        // anti-join, plus the stratified sampler's prefilter and rescue
        // reads) — checkpoint the BPE+forward chain once instead of
        // re-running the full transformer per consumer (r21; the same
        // many-consumer cut q_pipeline_v6 applies to its strip output —
        // the r21 probe measured ~5 forward re-runs, ~95 s of task time,
        // without it). The text column is dropped first: the checkpoint
        // carries (ids, counts, vectors), never the corpus text.
        val emb = Embeddings.embedStage(counted, "text", "emb",
            () => graft.embed.ModelRegistry.create(s"transformer:$dir"))
          .drop("text")
          .localCheckpoint(true)
        // estRows from the parquet footers (no job): the checkpoint above
        // erased emb's size stats, which otherwise forces the exact pair
        // join into a raw CartesianProduct instead of broadcasting the
        // provably-small inner side (r22; one embedding row per document)
        val pairs = graft.pipeline.Dedup.cosinePairs(
          emb, "doc_id", "emb", dim = Tf.H, threshold = 0.9999,
          estRows = Some(graft.stats.Stats.rowCount(
            graft.engine.Graft.tablePath(d, "documents"),
            s.sparkContext.hadoopConfiguration)))
        // the pair join feeds THREE downstream consumers through surv
        // (the sampler's prefilter, its rescue pass, and the group-size
        // probe) — cut it at the tiny id set so it runs once (r22; the
        // ids are a handful of longs, the cheapest possible checkpoint)
        val dropIds = pairs.select(col("b").as("doc_id")).distinct()
          .localCheckpoint(true)
        val surv = emb.join(dropIds, Seq("doc_id"), "left_anti")
        graft.pipeline.Mix.stratified(surv, "doc_id", "source", 3,
            minGroupRows = Some(50L))
          .select(col("doc_id"), col("source"), col("n_bpe").cast("long"))
      },
      Some {
        val vec = (a: String) =>
          (0 until Tf.H).map(i => s"$a.e$i::DOUBLE").mkString("[", ", ", "]")
        tfChainWithFin(tfTokWpCte) +
          ", prs AS (SELECT a.doc_id pa, b.doc_id pb FROM fin a " +
          "JOIN fin b ON a.doc_id < b.doc_id " +
          s"WHERE list_cosine_similarity(${vec("a")}, ${vec("b")}) >= 0.9999), " +
          "wt2 AS (SELECT doc_id, unnest(range(len(w))) AS i, unnest(w) AS t FROM dd), " +
          s"cnt AS (SELECT doc_id, sum($bpeCountSql)::BIGINT AS n_bpe " +
          "FROM wt2 GROUP BY doc_id), " +
          // LEFT JOIN: a zero-word document has no cnt row but the engine
          // keeps it (n_bpe = 0) — the inner join would silently drop it
          "surv AS (SELECT d.doc_id, d.source, coalesce(c.n_bpe, 0) AS n_bpe " +
          "FROM documents d LEFT JOIN cnt c USING (doc_id) " +
          "WHERE d.doc_id NOT IN (SELECT pb FROM prs)), " +
          "rk AS (SELECT *, row_number() OVER (PARTITION BY source " +
          s"ORDER BY (doc_id * 69069 + 12345) % ${graft.pipeline.Mix.Resolution}, doc_id) rn " +
          "FROM surv) " +
          "SELECT doc_id, source, n_bpe FROM rk WHERE rn <= 3"
      }),

    // SEMANTIC SEARCH over TRANSFORMER embeddings (r13): the reference's
    // full local-inference flow — load checkpoint, run the real encoder
    // over the corpus, embed the query text with the same model, exact
    // top-k over the resulting vectors (knn/knn.h:146-163 +
    // embeddings/src/model/local.rs in one pipeline). The oracle replays
    // the ENTIRE forward as CTEs and the distance top-k after it; vectors
    // compare at float32, distances accumulate in double on both sides
    // (the Distances codegen contract), so round(dist, 6) hash-matches.
    "q_semantic_transformer" -> QueryDef(
      (s, d) => {
        val dir = transformerArtifactWp()
        val docs = t(s, d, "documents")
        // same no-truncation pin as q_embed_transformer_wp: the oracle
        // replays the untruncated token list
        pinOnce("q_semantic_transformer", d) {
          val stats0 = docs.select(
            max(octet_length(col("text").cast("binary"))),
            max(size(split(trim(col("text")), "\\s+")))).head()
          require(stats0.getInt(0) < Tf.MaxPos *
              graft.embed.ModelRegistry.BytesPerTokenUpperBound &&
              stats0.getInt(1) <= Tf.MaxPos - 2,
            s"q_semantic_transformer oracle assumes no truncation; corpus " +
              s"has ${stats0.getInt(0)} bytes / ${stats0.getInt(1)} words max")
        }
        val emb = Embeddings.embedStage(docs, "text", "emb",
          () => graft.embed.ModelRegistry.create(s"transformer:$dir"))
        val qtext = docs.filter(col("doc_id") === 0)
          .select(col("text")).head().getString(0)
        val qv = graft.embed.ModelRegistry.create(s"transformer:$dir")
          .embedBatch(Seq(qtext)).head
        graft.vector.Knn.knn(emb, "emb", "doc_id", qv, 10, graft.vector.Knn.L2)
          .select(col("doc_id"), round(col("dist"), 6).as("dist"))
      },
      Some(tfChainWithFin(tfTokWpCte) +
        ", q AS (SELECT " +
        (0 until Tf.H).map(i => s"e$i AS q$i").mkString(", ") +
        " FROM fin WHERE doc_id = 0) " +
        "SELECT f.doc_id, round(list_distance([" +
        (0 until Tf.H).map(i => s"f.e$i::DOUBLE").mkString(", ") +
        "], [" +
        (0 until Tf.H).map(i => s"q.q$i::DOUBLE").mkString(", ") +
        "]), 6) + 0.0 AS dist FROM fin f CROSS JOIN q " +
        "ORDER BY list_distance([" +
        (0 until Tf.H).map(i => s"f.e$i::DOUBLE").mkString(", ") +
        "], [" +
        (0 until Tf.H).map(i => s"q.q$i::DOUBLE").mkString(", ") +
        "]), f.doc_id LIMIT 10")),

    // SEMANTIC SEARCH end-to-end (r10 VERDICT #2 — the reference wires
    // embeddings directly into the KNN column: LoadEmbeddingsLib +
    // GenerateEmbeddings feed the FLOATVEC build/search path,
    // knn/knn.h:146-163, embeddings/src/ffi.rs:78): the corpus is embedded
    // by the SAME K8 stage at derivation (documents_sem), a clustered
    // graph index is built over the stored vectors, the QUERY TEXT is
    // embedded with the SAME provider, and the plain top-k resolves
    // through the AUTOMATIC ANN route (exact at full ef). The oracle
    // replays the deterministic embedding and the exact top-k entirely in
    // SQL — embed→index→search, one gate.
    "q_semantic_e2e" -> QueryDef(
      (s, d) => {
        val semPath = graft.tables.Derived.tablePath(s, d, "documents_sem")
        val idx = semIndex(s, d)
        graft.plans.AnnRouting.registerGraph(s, semPath, idx,
          vecCol = "emb", idCol = "doc_id", ef = 1 << 20)
        val qtext = t(s, d, "documents").filter(col("doc_id") === 0)
          .select(col("text")).head().getString(0)
        val qv = Embeddings.HashingProvider(16, normalize = false)
          .embedBatch(Seq(qtext)).head
        graft.vector.Knn.knn(graft.tables.Derived.table(s, d, "documents_sem"),
            "emb", "doc_id", qv, 10, graft.vector.Knn.L2)
          .select(col("doc_id"), round(col("dist"), 6).as("dist"))
      },
      Some(semEmbCte(16) +
        " SELECT e.doc_id, round(list_distance(e.e, q.qe), 6) + 0.0 AS dist " +
        "FROM emb e CROSS JOIN (SELECT e AS qe FROM emb WHERE doc_id = 0) q " +
        "ORDER BY list_distance(e.e, q.qe), e.doc_id LIMIT 10")),

    // FLAGSHIP v7 — SEMANTIC CURATION (r15): the ANN surface inside the
    // data pipeline, the "dedup new crawl against the corpus by meaning"
    // recipe (SemDeDup-style nearest-neighbor screening, here with an
    // EXACT serving contract instead of cluster sampling). The corpus
    // split (doc_id % 10 != 7) is embedded by the deterministic K8 stage
    // (documents_sem), indexed as a clustered graph WITH the layer
    // hierarchy, and the incoming batch (doc_id % 10 == 7) resolves its
    // nearest corpus neighbor through the HIERARCHICAL batch KNN join
    // (one rehydration + one layer set per probed sub-graph serves the
    // whole batch; exact at full ef). Batch docs closer than θ to any
    // corpus doc drop as semantic dups; per-source accounting reports
    // kept/dropped, kept token budget, and the exact integer sum of
    // squared nn distances (count-vector embeddings make every distance²
    // an integer — hash-safe). The oracle replays embed → exact 1-NN →
    // threshold → accounting entirely in SQL.
    "q_pipeline_v7" -> QueryDef(
      (s, d) => v7Screen(s, d, ef = 1 << 20),
      Some(semEmbCte(16) +
        ", nn AS (SELECT b.doc_id, min(list_distance(b.e, c.e)) AS nnd " +
        "FROM emb b, emb c WHERE b.doc_id % 10 = 7 AND c.doc_id % 10 <> 7 " +
        "GROUP BY b.doc_id) " +
        "SELECT d.source AS source, " +
        "sum(CASE WHEN n.nnd >= 3.5 THEN 1 ELSE 0 END)::BIGINT AS kept, " +
        "sum(CASE WHEN n.nnd < 3.5 THEN 1 ELSE 0 END)::BIGINT AS dropped, " +
        raw"sum(CASE WHEN n.nnd >= 3.5 THEN len(list_filter(string_split_regex(trim(d.text),'\s+'), t -> t <> '')) ELSE 0 END)::BIGINT AS tokens_kept, " +
        "sum(CAST(round(n.nnd*n.nnd) AS BIGINT))::BIGINT AS nn_sq_sum " +
        "FROM nn n JOIN documents d ON d.doc_id = n.doc_id " +
        "GROUP BY d.source")),

    // Multimodal round trip: engine-written binary payload + metadata
    // struct, decoded by the (stub) per-partition decode stage. The oracle
    // recomputes payload byte statistics from the text (fixture is ASCII,
    // so codepoints == UTF-8 bytes).
    "q_multimodal" -> QueryDef(
      (s, d) => {
        val mm = graft.tables.Derived.table(s, d, "documents_mm")
        Multimodal.decodeStage(mm, "blob", "feat", Multimodal.ByteStatsDecoder)
          .select(col("doc_id"),
            col("blob.meta.format").as("format"),
            col("blob.meta.size_bytes").as("size_bytes"),
            col("feat.byte_sum").as("byte_sum"))
      },
      Some("SELECT doc_id, 'txt' AS format, " +
        "strlen(text)::BIGINT AS size_bytes, " +
        "list_reduce(list_transform(string_split(text,''), " +
        "c -> unicode(c)::BIGINT), (a, b) -> a + b) AS byte_sum " +
        "FROM documents")),

    // Multimodal stage chain (the brief's decode / resize / frame-sample
    // stations): stride-2 resize rewrites payload+meta in place, frame
    // sampling keeps every 3rd 16-byte chunk, decode recomputes byte
    // stats on the RESIZED payload — all partition-local, no shuffle. The
    // media ops are the documented deterministic stubs; schema, meta
    // bookkeeping and stage composition are the real convention, and the
    // oracle replays every count from the text (ASCII fixture: codepoint
    // == byte, odd 1-indexed chars == stride-2 bytes).
    "q_multimodal_resize" -> QueryDef(
      (s, d) => {
        val mm = graft.tables.Derived.table(s, d, "documents_mm")
        val resized = Multimodal.resizeStage(mm, "blob",
          Multimodal.StrideResizer(2))
        val framed = Multimodal.frameSampleStage(resized, "blob", "frames",
          frameBytes = 16, every = 3)
        Multimodal.decodeStage(framed, "blob", "feat",
            Multimodal.ByteStatsDecoder)
          .select(col("doc_id"),
            col("blob.meta.width").as("width"),
            col("blob.meta.size_bytes").as("size_bytes"),
            col("feat.byte_sum").as("byte_sum"),
            size(col("frames")).as("n_frames"))
      },
      Some("SELECT doc_id, " +
        "CAST(ceil(n_chars/2.0) AS INTEGER) AS width, " +
        "CAST(ceil(strlen(text)/2.0) AS BIGINT) AS size_bytes, " +
        "list_reduce(list_prepend(0::BIGINT, " +
        "list_transform(generate_series(1, strlen(text), 2), " +
        "i -> unicode(text[i])::BIGINT)), (a,b) -> a+b) AS byte_sum, " +
        "CAST(ceil(ceil(ceil(strlen(text)/2.0)/16.0)/3.0) AS INTEGER) AS n_frames " +
        "FROM documents")),

    // Streaming transform run in BATCH mode (Spark's batch/stream
    // unification: backfill = replay of the same pipeline) — the streaming
    // semantics (watermark closes windows, state across micro-batches) are
    // driven in StreamingSpec with real micro-batches. The events fixture
    // ships ts as timestamp[us]; EventStreams normalizes any event-time
    // representation (timestamp / NTZ / epoch-long) via EventTime, so the
    // raw table feeds the operator directly.
    "q_stream_window" -> QueryDef(
      (s, d) => {
        val ev = t(s, d, "events")
        graft.streaming.EventStreams.windowedCounts(ev, "1 hour", "0 seconds")
          .select(col("w_start"), col("event_type"), col("n"),
            round(col("sum_value"), 2).as("sum_value"))
      },
      Some("SELECT date_trunc('hour', ts)::TIMESTAMP AS w_start, event_type, " +
        "count(*) AS n, round(sum(value),2) AS sum_value " +
        "FROM events GROUP BY 1, 2")),

    // Streaming dedup, BATCH-REPLAY branch: the input is the events stream
    // doubled (at-least-once redelivery). Batch replay dedups full-history
    // (a strictly stronger guarantee than the stream's within-watermark
    // state — see EventStreams.dedupWithinWatermark); the within-watermark
    // streaming branch itself is driven with real micro-batches in
    // StreamingSpec. Key-only projection keeps the result deterministic
    // (which duplicate survives is arbitrary; the key set is exact).
    "q_stream_dedup" -> QueryDef(
      (s, d) => {
        val ev = t(s, d, "events")
        val redelivered = ev.unionAll(ev)
        graft.streaming.EventStreams
          .dedupWithinWatermark(redelivered, "0 seconds", Seq("event_id"))
          .select(col("event_id"))
      },
      Some("SELECT DISTINCT event_id FROM events")),

    // Event-time-bounded stream-stream join in BATCH mode (same operator
    // the stream runs; watermarks are a batch no-op). Each purchase pairs
    // with the same user's views in the 10 minutes before it. Both engines
    // compare event time in truncated micros, and the emitted timestamps
    // are exact integer micros — hash-stable.
    "q_stream_join" -> QueryDef(
      (s, d) => {
        val ev = t(s, d, "events")
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"))
        graft.streaming.EventStreams
          .purchaseViewJoin(views, purchases, "0 seconds", "10 minutes")
          .select(col("p_user").as("user_id"),
            unix_micros(col("p_ts")).as("p_us"),
            unix_micros(col("v_ts")).as("v_us"))
      },
      Some("SELECT p.user_id AS user_id, epoch_us(p.ts) AS p_us, " +
        "epoch_us(v.ts) AS v_us FROM events p JOIN events v " +
        "ON v.user_id = p.user_id " +
        "AND epoch_us(v.ts) BETWEEN epoch_us(p.ts) - 600000000 AND epoch_us(p.ts) " +
        "WHERE p.event_type = 'purchase' AND v.event_type = 'view'")),

    // Gap-based sessionization in BATCH mode via the same sessionWindows
    // operator the stream uses (EventStreams normalizes the event-time
    // column internally). The oracle is the independent relational
    // formulation (lag + boundary count): a new session starts when the gap
    // since the previous event is >= 1 hour — exactly session_window's
    // [start, last+gap) semantics. Both sides compare event time in exact
    // micros so the boundary test is identical.
    "q_sessionize" -> QueryDef(
      (s, d) => {
        graft.streaming.EventStreams
          .sessionWindows(t(s, d, "events"), "1 hour", "0 seconds")
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_sessions"), sum(col("n")).as("n_events"))
      },
      Some("WITH d AS (SELECT user_id, epoch_us(ts) AS tus, " +
        "lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) " +
        "AS pus FROM events) " +
        "SELECT user_id, CAST(sum(CASE WHEN pus IS NULL " +
        "OR tus - pus >= 3600000000 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_sessions, count(*) AS n_events FROM d GROUP BY user_id")),

    // SEQUENCE PACKING (pipeline op beyond the reference): concatenate each
    // shard's token stream in doc_id order and cut every 256 tokens —
    // emitted as per-document pack offsets (start position + chunk span).
    // 100 TB shape: ONE window aggregation partitioned by the shard column
    // (the parallelism knob — here pmod(doc_id, 8), at scale thousands of
    // shards); no global sort, exact long arithmetic.
    "q_pack_sequences" -> QueryDef(
      (s, d) => {
        import graft.pipeline.TextFunctions
        val toks = t(s, d, "documents").select(col("doc_id"),
          pmod(col("doc_id"), lit(8L)).as("shard"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"))
        graft.pipeline.Pack.sequenceOffsets(toks, "n_tokens", "shard",
            "doc_id", budget = 256)
          .select(col("doc_id"), col("shard"), col("n_tokens").cast("long"),
            col("start_tok"), col("first_chunk"), col("last_chunk"))
      },
      Some(raw"WITH tok AS (SELECT doc_id, doc_id % 8 AS shard, " +
        raw"len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS n_tokens " +
        "FROM documents), " +
        "nz AS (SELECT * FROM tok WHERE n_tokens > 0), " +
        "packed AS (SELECT doc_id, shard, n_tokens, " +
        "CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok " +
        "FROM nz) " +
        "SELECT doc_id, shard, n_tokens, start_tok, " +
        "start_tok // 256 AS first_chunk, " +
        "(start_tok + n_tokens - 1) // 256 AS last_chunk FROM packed")),

    // CHUNK MANIFEST (the consumer view of q_pack_sequences): one row per
    // (document, chunk) overlap with the chunk-local token range — what a
    // tokenizer job reads to materialize any chunk independently.
    "q_pack_chunks" -> QueryDef(
      (s, d) => {
        import graft.pipeline.TextFunctions
        val toks = t(s, d, "documents").select(col("doc_id"),
          pmod(col("doc_id"), lit(8L)).as("shard"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"))
        graft.pipeline.Pack.chunkManifest(toks, "n_tokens", "shard",
            "doc_id", budget = 256)
          .select(col("doc_id"), col("shard"), col("chunk"),
            col("tok_from"), col("tok_to"))
      },
      Some(raw"WITH tok AS (SELECT doc_id, doc_id % 8 AS shard, " +
        raw"len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS n_tokens " +
        "FROM documents), " +
        "nz AS (SELECT * FROM tok WHERE n_tokens > 0), " +
        "packed AS (SELECT doc_id, shard, n_tokens, " +
        "CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok " +
        "FROM nz), " +
        "manifest AS (SELECT doc_id, shard, n_tokens, start_tok, " +
        "unnest(generate_series(start_tok // 256, " +
        "(start_tok + n_tokens - 1) // 256)) AS chunk FROM packed) " +
        "SELECT doc_id, shard, chunk, " +
        "greatest(start_tok - chunk * 256, 0) AS tok_from, " +
        "least(start_tok + n_tokens - chunk * 256, 256) AS tok_to " +
        "FROM manifest")),

    // DETERMINISTIC MIXTURE SAMPLING (pipeline op beyond the reference):
    // downsample each source to its recipe rate with a pure-function keep
    // decision — reproducible across engines, reruns, task retries, and
    // cluster sizes (an RNG-based sampleBy is none of those). Recipe here:
    // src k keeps (k+1)/20 of its documents. The oracle replays the exact
    // integer threshold arithmetic.
    "q_mix_sample" -> QueryDef(
      (s, d) => {
        val rates = (0 until 20).map(k => s"src$k" -> (k + 1) / 20.0).toMap
        graft.pipeline.Mix.bySource(t(s, d, "documents"), "doc_id",
            "source", rates)
          .select(col("doc_id"), col("source"))
      },
      Some {
        val whens = (0 until 20).map(k =>
          s"WHEN 'src$k' THEN ${graft.pipeline.Mix.threshold((k + 1) / 20.0)}")
          .mkString(" ")
        "SELECT doc_id, source FROM documents " +
          s"WHERE (doc_id * 69069 + 12345) % ${graft.pipeline.Mix.Resolution} < " +
          s"CASE source $whens ELSE -1 END"
      }),

    // MATERIALIZED packed sequences (r12): the actual training chunks —
    // per (shard, chunk), the flattened tokens of every overlapping
    // document slice in order. The gate emits each chunk's length and
    // the rolling-hash fingerprint of its joined text, so the oracle
    // hash-verifies the exact sequences cross-engine.
    "q_pack_materialize" -> QueryDef(
      (s, d) => {
        import s.implicits._
        import graft.pipeline.{Pack, TextFunctions}
        val toks = t(s, d, "documents").select(col("doc_id"),
          pmod(col("doc_id"), lit(8L)).as("shard"),
          TextFunctions.tokens(col("text")).as("toks"))
        Pack.materializeChunks(toks, "toks", "shard", "doc_id", budget = 256)
          .as[(Long, Long, Seq[String])]
          .map { case (sh, ch, tk) =>
            (sh, ch, tk.size.toLong,
              TextFunctions.fingerprintScala(tk.mkString(" ")))
          }
          .toDF("shard", "chunk", "n_tok", "fp")
      },
      Some(raw"WITH dd AS (SELECT doc_id, doc_id % 8 AS shard, " +
        raw"list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS w " +
        "FROM documents), " +
        "nz AS (SELECT *, len(w) AS n FROM dd WHERE len(w) > 0), " +
        "packed AS (SELECT doc_id, shard, w, n, " +
        "CAST(coalesce(sum(n) OVER (PARTITION BY shard ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start FROM nz), " +
        "m AS (SELECT doc_id, shard, w, n, start, " +
        "unnest(generate_series(start // 256, (start + n - 1) // 256)) AS chunk FROM packed), " +
        "pieces AS (SELECT shard, chunk, doc_id, " +
        "w[(greatest(chunk*256, start) - start + 1):(least((chunk+1)*256, start + n) - start)] AS piece FROM m), " +
        "chunks AS (SELECT shard, chunk, flatten(list(piece ORDER BY doc_id)) AS toks " +
        "FROM pieces GROUP BY 1, 2) " +
        "SELECT shard, chunk, len(toks)::BIGINT AS n_tok, " +
        "list_reduce(list_prepend(0::BIGINT, list_transform(" +
        "string_split(array_to_string(toks, ' '), ''), c -> unicode(c)::BIGINT)), " +
        "(a, b) -> (a*31 + b) % 1000000007) AS fp FROM chunks")),

    // GLOBAL DETERMINISTIC SHUFFLE (r12): hash documents into 8 shards
    // with a pseudo-random within-shard order — the reproducible shuffle
    // step before packing. Oracle replays the exact LCG arithmetic.
    "q_pack_shuffle" -> QueryDef(
      (s, d) => graft.pipeline.Pack.shuffleShards(
          t(s, d, "documents"), "doc_id", nShards = 8)
        .select(col("doc_id"), col("shard"), col("pos")),
      Some({
        val m = graft.pipeline.Mix.Resolution
        s"SELECT doc_id, ((doc_id*69069+12345) % $m) % 8 AS shard, " +
          "row_number() OVER (PARTITION BY " +
          s"((doc_id*69069+12345) % $m) % 8 " +
          s"ORDER BY (doc_id*69069+12345) % $m, " +
          s"(((doc_id >> 20)*69069+12345) % $m), doc_id) - 1 AS pos " +
          "FROM documents"
      })),

    // TOKEN-BUDGET selection (r12): per source, the best documents by
    // quality score (ties broken by id) until a 2000-char budget fills —
    // the "take the top N tokens per source" curation step. Engine: exact
    // two-phase cut (per-(group, score) offsets + within-run prefix — no
    // per-group serialization); oracle: the naive single window replayed
    // in SQL (the equivalence the engine guarantees).
    "q_mix_budget" -> QueryDef(
      (s, d) => {
        val docs = t(s, d, "documents")
          .withColumn("quality_micros",
            graft.pipeline.TextFunctions.qualityMicros(col("text")))
        graft.pipeline.Mix.byBudget(docs, "doc_id", "source",
            "n_chars", "quality_micros", budget = 2000L)
          .select(col("doc_id"), col("source"),
            col("cum_weight").as("cum_chars"))
      },
      Some(raw"WITH dd AS (SELECT doc_id, source, n_chars, text, " +
        raw"list_filter(string_split_regex(trim(text),'\s+'), t -> t <> '') w " +
        "FROM documents), q AS (SELECT doc_id, source, n_chars, " +
        "CASE WHEN length(text)=0 OR len(w)=0 THEN 0 ELSE floor((" +
        "0.4 * (len(list_filter(w, t -> list_contains(" +
        "['the','a','of','and','to','in','is'], t)))::DOUBLE / len(w)) " +
        "+ 0.4 * (length(regexp_replace(text,'[^A-Za-z]','','g'))::DOUBLE / length(text)) " +
        "+ 0.2 * least(len(w)::DOUBLE / 100.0, 1.0)) * 1000000)::BIGINT END " +
        "AS quality_micros FROM dd), c AS (SELECT doc_id, source, " +
        "sum(n_chars) OVER (PARTITION BY source " +
        "ORDER BY quality_micros DESC, doc_id)::BIGINT AS cum_chars FROM q) " +
        "SELECT doc_id, source, cum_chars FROM c WHERE cum_chars <= 2000")),

    // REAL media decode (r12): per document, build a REAL uncompressed
    // 24-bpp BMP (dimensions/fill derived from the row), pack it into the
    // multimodal blob convention, and run the REAL pure-JVM BMP parser —
    // the oracle replays the expected header fields and exact pixel mean
    // arithmetically. Codec formats (JPEG/PNG) stay behind the documented
    // pluggable seam; this pins the parse path on bytes a stock viewer
    // opens.
    "q_multimodal_bmp" -> QueryDef(
      (s, d) => {
        import s.implicits._
        import graft.pipeline.Multimodal
        val src = t(s, d, "documents").select(col("doc_id"), col("n_chars"))
          .as[(Long, Long)]
          .map { case (id, nc) =>
            (id, Multimodal.syntheticBmp((id % 8 + 1).toInt, 2, (nc % 256).toInt))
          }.toDF("doc_id", "payload")
        val packed = src.withColumn("blob", Multimodal.packBlob(
          col("payload"), lit("bmp"), lit(0), lit(0))).drop("payload")
        Multimodal.decodeStage(packed, "blob", "img", Multimodal.BmpDecoder)
          .select(col("doc_id"), col("img.width").as("width"),
            col("img.height").as("height"),
            col("img.mean_channel_milli").as("mean_channel_milli"))
      },
      Some("SELECT doc_id, (doc_id % 8 + 1)::INT AS width, 2::INT AS height, " +
        "(n_chars % 256) * 1000 AS mean_channel_milli FROM documents")),

    // REAL audio decode (r12): same contract as q_multimodal_bmp for the
    // audio side — a real PCM WAV (square wave, so RMS = amplitude
    // exactly) built per row, parsed by the real chunk walker, oracle
    // replays the arithmetic.
    "q_multimodal_wav" -> QueryDef(
      (s, d) => {
        import s.implicits._
        import graft.pipeline.Multimodal
        val src = t(s, d, "documents").select(col("doc_id"), col("n_chars"))
          .as[(Long, Long)]
          .map { case (id, nc) =>
            val n = ((nc % 50) + 1).toInt * 2
            val amp = (nc % 1000).toShort
            val dataLen = n * 2
            val b = java.nio.ByteBuffer.allocate(44 + dataLen)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            b.put("RIFF".getBytes).putInt(36 + dataLen).put("WAVE".getBytes)
            b.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
              .putInt(8000).putInt(16000).putShort(2).putShort(16)
            b.put("data".getBytes).putInt(dataLen)
            (0 until n).foreach(i =>
              b.putShort(if (i % 2 == 0) amp else (-amp).toShort))
            (id, b.array())
          }.toDF("doc_id", "payload")
        val packed = src.withColumn("blob", Multimodal.packBlob(
          col("payload"), lit("wav"), lit(0), lit(0))).drop("payload")
        Multimodal.decodeStage(packed, "blob", "au", Multimodal.WavDecoder)
          .select(col("doc_id"), col("au.sample_rate").as("sample_rate"),
            col("au.duration_ms").as("duration_ms"), col("au.rms").as("rms"))
      },
      Some("SELECT doc_id, 8000::INT AS sample_rate, " +
        "(((n_chars % 50) + 1) * 2 * 2 * 1000 // 16000) AS duration_ms, " +
        "n_chars % 1000 AS rms FROM documents")),

    // SEQUENCE PACKING over REAL BPE token counts (r13): the same exact
    // offsets/chunk assignment as q_pack_sequences, but the token
    // accounting comes from the real GPT-2-format BPE tokenizer (regex
    // pre-tokenize → byte encode → ranked merges → vocab ids) instead of
    // whitespace counts. The oracle replays the merge chains' closed form
    // and the packing window.
    "q_pack_bpe" -> QueryDef(
      (s, d) => {
        val dir = bpeArtifact()
        val toks = graft.embed.Bpe.tokenizeStage(
            t(s, d, "documents").select(col("doc_id"), col("text")),
            "text", dir, countCol = "n_tokens")
          .select(col("doc_id"), pmod(col("doc_id"), lit(8L)).as("shard"),
            col("n_tokens"))
        graft.pipeline.Pack.sequenceOffsets(toks, "n_tokens", "shard",
            "doc_id", budget = 256)
          .select(col("doc_id"), col("shard"), col("n_tokens").cast("long"),
            col("start_tok"), col("first_chunk"), col("last_chunk"))
      },
      Some(raw"WITH dd AS (SELECT doc_id, list_filter(string_split_regex(trim(text),'\s+'), t -> t <> '') w " +
        "FROM documents), " +
        "wt AS (SELECT doc_id, unnest(range(len(w))) AS i, unnest(w) AS t FROM dd), " +
        s"cnt AS (SELECT doc_id, sum($bpeCountSql)::BIGINT AS n_tokens " +
        "FROM wt GROUP BY doc_id), " +
        "nz AS (SELECT doc_id, doc_id % 8 AS shard, n_tokens FROM cnt " +
        "WHERE n_tokens > 0), " +
        "packed AS (SELECT doc_id, shard, n_tokens, " +
        "CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok " +
        "FROM nz) " +
        "SELECT doc_id, shard, n_tokens, start_tok, " +
        "start_tok // 256 AS first_chunk, " +
        "(start_tok + n_tokens - 1) // 256 AS last_chunk FROM packed")),

    // CODEC-FORMAT image decode (r13): real JPEG/PNG through the JDK's OWN
    // ImageIO codecs — the real-corpus formats, no new dependency. PNG is
    // lossless, so the decoded mean channel replays EXACTLY from the fill
    // formula; the oracle also replays the milli floor-division.
    "q_multimodal_png" -> QueryDef(
      (s, d) => {
        import s.implicits._
        import graft.pipeline.Multimodal
        val src = t(s, d, "documents").select(col("doc_id"), col("n_chars"))
          .as[(Long, Long)]
          .map { case (id, nc) =>
            (id, Multimodal.syntheticImage((id % 6 + 2).toInt, (id % 4 + 1).toInt,
              (nc * 3 % 256).toInt, (id * 7 % 256).toInt, (id * 13 % 256).toInt,
              "png"))
          }.toDF("doc_id", "payload")
        val packed = src.withColumn("blob", Multimodal.packBlob(
          col("payload"), lit("png"), lit(0), lit(0))).drop("payload")
        Multimodal.decodeStage(packed, "blob", "img", Multimodal.ImageIoDecoder)
          .select(col("doc_id"), col("img.width").as("width"),
            col("img.height").as("height"),
            col("img.mean_channel_milli").as("mean_channel_milli"))
      },
      Some("SELECT doc_id, (doc_id % 6 + 2)::INT AS width, " +
        "(doc_id % 4 + 1)::INT AS height, " +
        "((n_chars * 3 % 256) + (doc_id * 7 % 256) + (doc_id * 13 % 256)) " +
        "* 1000 // 3 AS mean_channel_milli FROM documents")),

    // Codec-format RESIZE (r13): PNG decode → nearest-neighbor raster
    // scale → PNG re-encode → decode, all through the JDK pipeline.
    // Solid-color fills make the scaled means EXACT (any interpolation of
    // a constant field is that constant), and the in-place meta rewrite
    // is checked alongside the re-decoded header dims.
    "q_multimodal_resize_png" -> QueryDef(
      (s, d) => {
        import s.implicits._
        import graft.pipeline.Multimodal
        val src = t(s, d, "documents").select(col("doc_id"), col("n_chars"))
          .as[(Long, Long)]
          .map { case (id, nc) =>
            (id, Multimodal.syntheticImage((id % 5 + 4).toInt, (id % 3 + 3).toInt,
              (nc * 7 % 256).toInt, (id * 3 % 256).toInt, (id * 19 % 256).toInt,
              "png"))
          }.toDF("doc_id", "payload")
        val packed = src.withColumn("blob", Multimodal.packBlob(
          col("payload"), lit("png"), lit(0), lit(0))).drop("payload")
        val resized = Multimodal.resizeStage(packed, "blob",
          Multimodal.ImageIoResizer(3, 2, "png"))
        Multimodal.decodeStage(resized, "blob", "img", Multimodal.ImageIoDecoder)
          .select(col("doc_id"), col("img.width").as("width"),
            col("img.height").as("height"),
            col("img.mean_channel_milli").as("mean_channel_milli"),
            col("blob.meta.width").as("meta_w"),
            col("blob.meta.height").as("meta_h"))
      },
      Some("SELECT doc_id, 3::INT AS width, 2::INT AS height, " +
        "((n_chars * 7 % 256) + (doc_id * 3 % 256) + (doc_id * 19 % 256)) " +
        "* 1000 // 3 AS mean_channel_milli, " +
        "3::INT AS meta_w, 2::INT AS meta_h FROM documents")),

    // JPEG is LOSSY, so the gate checks the decoded mean at bucket
    // granularity: solid mid-bucket grays (16k+8) decode within ±2 units,
    // far inside the 16-unit bucket — header dims stay exact. A real
    // JDK JPEG encode→decode round trip runs distributed per document.
    "q_multimodal_jpeg" -> QueryDef(
      (s, d) => {
        import s.implicits._
        import graft.pipeline.Multimodal
        val src = t(s, d, "documents").select(col("doc_id"))
          .as[Long]
          .map { id =>
            val v = (id * 11 % 14).toInt * 16 + 8
            (id, Multimodal.syntheticImage((id % 5 + 3).toInt, (id % 3 + 2).toInt,
              v, v, v, "jpg"))
          }.toDF("doc_id", "payload")
        val packed = src.withColumn("blob", Multimodal.packBlob(
          col("payload"), lit("jpeg"), lit(0), lit(0))).drop("payload")
        Multimodal.decodeStage(packed, "blob", "img", Multimodal.ImageIoDecoder)
          .select(col("doc_id"), col("img.width").as("width"),
            col("img.height").as("height"),
            floor(col("img.mean_channel_milli") / lit(16000L))
              .cast("long").as("mean_bucket"))
      },
      Some("SELECT doc_id, (doc_id % 5 + 3)::INT AS width, " +
        "(doc_id % 3 + 2)::INT AS height, " +
        "(doc_id * 11 % 14)::BIGINT AS mean_bucket FROM documents")),

    // FLAGSHIP v3 (r12): the round's curation additions composed in one
    // declarative plan — benchmark DECONTAMINATION (drop corpus docs
    // sharing >= 2 trigrams with the mod-97 eval split) → repetition
    // filter → quality-ranked TOKEN-BUDGET selection per source. The
    // oracle replays every stage, including the exact window cut.
    "q_pipeline_v3" -> QueryDef(
      (s, d) => {
        import graft.pipeline.{Decontaminate, Mix, TextFunctions}
        val docs = t(s, d, "documents")
        val clean = Decontaminate.clean(
          docs.filter(pmod(col("doc_id"), lit(97L)) =!= 0L),
          docs.filter(pmod(col("doc_id"), lit(97L)) === 0L),
          "doc_id", "text", "doc_id", "text",
          shingleN = 3, minOverlap = 2)
        val filt = clean
          .filter(TextFunctions.dupNgramRatioMicros(col("text"), 2) < 100000L)
          .withColumn("quality_micros",
            TextFunctions.qualityMicros(col("text")))
        Mix.byBudget(filt, "doc_id", "source", "n_chars",
            "quality_micros", budget = 2000L)
          .select(col("doc_id"), col("source"),
            col("cum_weight").as("cum_chars"))
      },
      Some(raw"WITH dd AS (SELECT doc_id, source, n_chars, text, " +
        raw"list_filter(string_split_regex(trim(text),'\s+'), t -> t <> '') w " +
        "FROM documents), " +
        "sh AS (SELECT doc_id, list_distinct([w[i]||' '||w[i+1]||' '||w[i+2] " +
        "for i in generate_series(1, len(w)-2)]) s FROM dd), " +
        "bad AS (SELECT DISTINCT co.doc_id FROM sh co JOIN sh ev " +
        "ON co.doc_id % 97 <> 0 AND ev.doc_id % 97 = 0 " +
        "WHERE len(ev.s) > 0 AND len(list_intersect(co.s, ev.s)) >= 2), " +
        "scored AS (SELECT doc_id, source, n_chars, " +
        "CASE WHEN length(text)=0 OR len(w)=0 THEN 0 ELSE floor((" +
        "0.4 * (len(list_filter(w, t -> list_contains(" +
        "['the','a','of','and','to','in','is'], t)))::DOUBLE / len(w)) " +
        "+ 0.4 * (length(regexp_replace(text,'[^A-Za-z]','','g'))::DOUBLE / length(text)) " +
        "+ 0.2 * least(len(w)::DOUBLE / 100.0, 1.0)) * 1000000)::BIGINT END AS qm, " +
        "CASE WHEN len(w) < 2 THEN 0 ELSE floor((1.0 - " +
        "len(list_distinct([w[i]||' '||w[i+1] for i in generate_series(1, len(w)-1)]))::DOUBLE " +
        "/ len([w[i]||' '||w[i+1] for i in generate_series(1, len(w)-1)])) * 1000000)::BIGINT END AS dup2 " +
        "FROM dd WHERE doc_id % 97 <> 0), " +
        "filt AS (SELECT doc_id, source, n_chars, qm FROM scored " +
        "WHERE doc_id NOT IN (SELECT doc_id FROM bad) AND dup2 < 100000), " +
        "c AS (SELECT doc_id, source, sum(n_chars) OVER (PARTITION BY source " +
        "ORDER BY qm DESC, doc_id)::BIGINT AS cum_chars FROM filt) " +
        "SELECT doc_id, source, cum_chars FROM c WHERE cum_chars <= 2000")),

    // STRATIFIED sample (r12): exactly 5 documents per source, chosen as
    // the 5 smallest LCG-hashed ids — deterministic across engines and
    // reruns where RNG sampling is not. Oracle replays the hash order.
    "q_mix_stratified" -> QueryDef(
      (s, d) => graft.pipeline.Mix.stratified(
          t(s, d, "documents"), "doc_id", "source", n = 5)
        .select(col("doc_id"), col("source")),
      Some("SELECT doc_id, source FROM (SELECT doc_id, source, " +
        "row_number() OVER (PARTITION BY source ORDER BY " +
        s"(doc_id * 69069 + 12345) % ${graft.pipeline.Mix.Resolution}, doc_id) rn " +
        "FROM documents) WHERE rn <= 5"))
  ) ++ Map(

    // FLAGSHIP v5 (r14) — the BOILERPLATE-AWARE curation chain, every
    // stage active on this corpus (500 -> 453 -> 265 docs -> 20 groups):
    // cross-doc span STRIP (remove 4-gram windows shared by >= 2 docs) ->
    // drop mostly-boilerplate docs (covered fraction > 60%, computed from
    // the strip output itself: covered = total - kept, so the gram
    // pipeline runs ONCE) -> quality filter on the CLEANED text (scoring
    // after boilerplate removal, the order real curation uses) ->
    // per-source doc/token accounting. 100 TB shape: the span pipeline's
    // one gram aggregate + co-partitioned flag join + per-doc rebuild
    // dominates; everything after is codegen'd filters over (id, text)
    // and one tiny aggregate. The oracle replays all four stages in SQL.
    "q_pipeline_v5" -> QueryDef(
      (s, d) => {
        import graft.pipeline.{Dedup, TextFunctions}
        val docs = t(s, d, "documents")
        val stripped = Dedup.stripSpans(docs, "doc_id", "text",
          n = 4, minDocs = 2)
        val withTotal = docs.select(col("doc_id"), col("source"),
            TextFunctions.tokenCount(col("text")).cast("long")
              .as("total_tokens"))
          .join(stripped, Seq("doc_id"))
        val surv = withTotal.filter(
          when(col("total_tokens") === 0, lit(0L))
            .otherwise(floor((col("total_tokens") - col("kept_tokens"))
              .cast("double") / col("total_tokens") * 1000000)
              .cast("long")) <= 600000L)
        surv
          .filter(TextFunctions.qualityMicros(col("clean_text")) >= 440000L)
          .groupBy("source")
          .agg(count(lit(1)).as("docs"),
            sum(col("kept_tokens")).as("tokens"))
      },
      Some(raw"WITH dd AS (SELECT doc_id, list_filter(string_split_regex(trim(text),'\s+'), t -> t <> '') w " +
        "FROM documents), " +
        "g AS (SELECT doc_id, unnest(generate_series(1, len(w) - 3)) AS pos, w " +
        "FROM dd WHERE len(w) >= 4), " +
        "grams AS (SELECT doc_id, pos, array_to_string(w[pos:pos+3], ' ') AS gram FROM g), " +
        "boiler AS (SELECT gram FROM grams GROUP BY gram " +
        "HAVING count(DISTINCT doc_id) >= 2), " +
        "cov AS (SELECT DISTINCT doc_id, tp FROM (SELECT g2.doc_id, " +
        "unnest(generate_series(g2.pos, g2.pos + 3)) AS tp " +
        "FROM grams g2 JOIN boiler USING (gram))), " +
        "percov AS (SELECT doc_id, count(*) AS c FROM cov GROUP BY doc_id), " +
        "covr AS (SELECT dd.doc_id, (CASE WHEN len(dd.w) = 0 THEN 0 ELSE " +
        "floor(coalesce(p.c, 0)::DOUBLE / len(dd.w) * 1000000) END)::BIGINT AS cm " +
        "FROM dd LEFT JOIN percov p ON dd.doc_id = p.doc_id), " +
        "toks AS (SELECT doc_id, unnest(w) AS tok, " +
        "unnest(generate_series(1, len(w))) AS tp FROM dd), " +
        "kept AS (SELECT t.doc_id, t.tp, t.tok FROM toks t " +
        "LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.tp = c.tp " +
        "WHERE c.doc_id IS NULL), " +
        "agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY tp) AS clean_text, " +
        "count(*) AS kept FROM kept GROUP BY doc_id), " +
        "strip AS (SELECT dd.doc_id, coalesce(a.clean_text, '') AS clean_text, " +
        "coalesce(a.kept, 0)::BIGINT AS kept_tokens " +
        "FROM dd LEFT JOIN agg a ON dd.doc_id = a.doc_id), " +
        "surv AS (SELECT s.doc_id, s.clean_text, s.kept_tokens FROM strip s " +
        "JOIN covr ON s.doc_id = covr.doc_id WHERE covr.cm <= 600000), " +
        raw"cw AS (SELECT doc_id, clean_text, kept_tokens, " +
        raw"list_filter(string_split_regex(trim(clean_text),'\s+'), t -> t <> '') w2 FROM surv), " +
        "q AS (SELECT doc_id, kept_tokens, CASE WHEN length(clean_text) = 0 " +
        "OR len(w2) = 0 THEN 0 ELSE floor((" +
        "0.4 * (len(list_filter(w2, t -> list_contains(['the','a','of','and','to','in','is'], t)))::DOUBLE / len(w2)) " +
        "+ 0.4 * (length(regexp_replace(clean_text,'[^A-Za-z]','','g'))::DOUBLE / length(clean_text)) " +
        "+ 0.2 * least(len(w2)::DOUBLE / 100.0, 1.0)) * 1000000)::BIGINT END AS qm FROM cw) " +
        "SELECT d.source, count(*) AS docs, sum(q.kept_tokens)::BIGINT AS tokens " +
        "FROM q JOIN documents d ON q.doc_id = d.doc_id " +
        "WHERE q.qm >= 440000 GROUP BY d.source")),

    // FLAGSHIP v6 (r14 VERDICT #7) — PERPLEXITY-BUCKETED MIXING, the
    // published CCNet recipe end to end (Wenzek et al. 2019: LM-score the
    // crawl against a trusted-corpus model, bucket by perplexity, keep
    // head+middle, then budget the take): cross-doc span STRIP (4-gram
    // windows shared by >= 2 docs) -> trigram-LM trained on the CLEANED
    // corpus split and persisted as a STORE (the crawl-ingest shape:
    // batches never rescan the training corpus) -> score the cleaned
    // batch split against the store -> head/middle/tail buckets (no
    // global-order window; two-phase cumulative) -> drop the tail ->
    // per-source TOKEN-BUDGET selection, lowest perplexity first
    // (Mix.byBudget: run-pruned two-phase cumulative, exact). 100 TB
    // shape: span pipeline (one gram aggregate + co-partitioned flag
    // join), LM train/score (hash aggregates + narrow shuffle joins on
    // 8-byte keys), bucketing (distinct-score-bounded), budget cut
    // (per-(source,score) windows after run pruning) — no stage touches
    // all-pairs or a global order. The oracle replays every stage in SQL:
    // strip, float32-quantized LM costs, bucket thirds, and the budget
    // window ordered (ppl asc, id asc).
    "q_pipeline_v6" -> QueryDef(
      (s, d) => {
        import graft.pipeline.{Dedup, Mix, NgramLM}
        val docs = t(s, d, "documents")
        // The strip output feeds the LM store build, the scoring probe,
        // AND the budget stage's (source, kept_tokens) join — checkpoint
        // the rebuild once instead of re-running the posexplode/anti-join
        // per consumer (the covered-set aggregate inside stripSpans is
        // already cut; this cuts the rebuild tail too).
        val stripped = Dedup.stripSpans(docs, "doc_id", "text",
            n = 4, minDocs = 2)
          .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
          .localCheckpoint(true)
        val corpus = stripped.filter(pmod(col("doc_id"), lit(5L)) =!= 0L)
        val batch = stripped.filter(pmod(col("doc_id"), lit(5L)) === 0L)
        val store = graft.tables.Derived.path(d, "lmstore_v6_documents")
        if (!new java.io.File(store, "_SUCCESS").isFile)
          NgramLM.writeLM(corpus, "clean_text", store, 3)
        val scored = NgramLM.scoreAgainstStore(batch, store,
          "doc_id", "clean_text", 3)
        val keep = NgramLM.pplBuckets(scored, "doc_id", 3)
          .filter(col("bucket") <= 2)
          .join(batch.select(col("doc_id"), col("source"),
            col("kept_tokens")), Seq("doc_id"))
          .withColumn("neg_ppl", -col("avg_cost_micros"))
        Mix.byBudget(keep, "doc_id", "source", "kept_tokens", "neg_ppl",
            budget = 1500L)
          .select(col("doc_id"), col("source"), col("avg_cost_micros"),
            col("cum_weight").as("cum_tokens"))
      },
      Some(raw"WITH dd AS (SELECT doc_id, list_filter(string_split_regex(trim(text),'\s+'), t -> t <> '') w " +
        "FROM documents), " +
        "g AS (SELECT doc_id, unnest(generate_series(1, len(w) - 3)) AS pos, w " +
        "FROM dd WHERE len(w) >= 4), " +
        "grams AS (SELECT doc_id, pos, array_to_string(w[pos:pos+3], ' ') AS gram FROM g), " +
        "boiler AS (SELECT gram FROM grams GROUP BY gram " +
        "HAVING count(DISTINCT doc_id) >= 2), " +
        "cov AS (SELECT DISTINCT doc_id, tp FROM (SELECT g2.doc_id, " +
        "unnest(generate_series(g2.pos, g2.pos + 3)) AS tp " +
        "FROM grams g2 JOIN boiler USING (gram))), " +
        "toks AS (SELECT doc_id, unnest(w) AS tok, " +
        "unnest(generate_series(1, len(w))) AS tp FROM dd), " +
        "kept AS (SELECT t.doc_id, t.tp, t.tok FROM toks t " +
        "LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.tp = c.tp " +
        "WHERE c.doc_id IS NULL), " +
        "agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY tp) AS clean_text, " +
        "count(*) AS kept FROM kept GROUP BY doc_id), " +
        "strip AS (SELECT dd.doc_id, coalesce(a.clean_text, '') AS clean_text, " +
        "coalesce(a.kept, 0)::BIGINT AS kept_tokens " +
        "FROM dd LEFT JOIN agg a ON dd.doc_id = a.doc_id), " +
        raw"cw AS (SELECT s.doc_id, d.source, s.kept_tokens, " +
        raw"list_filter(string_split_regex(trim(s.clean_text),'\s+'), t -> t <> '') w2 " +
        "FROM strip s JOIN documents d USING (doc_id)), " +
        "pos2 AS (SELECT doc_id, unnest(generate_series(1, len(w2)-2)) AS p, w2 " +
        "FROM cw WHERE len(w2) >= 3), " +
        "gr2 AS (SELECT doc_id, array_to_string(w2[p:p+2],' ') AS gram, " +
        "array_to_string(w2[p:p+1],' ') AS ctx FROM pos2), " +
        "v2 AS (SELECT count(DISTINCT tok) AS vs FROM " +
        "(SELECT unnest(w2) AS tok FROM cw WHERE doc_id % 5 <> 0)), " +
        "gc2 AS (SELECT gram, ctx, count(*) AS c FROM gr2 " +
        "WHERE doc_id % 5 <> 0 GROUP BY gram, ctx), " +
        "cc2 AS (SELECT ctx, sum(c) AS cc FROM gc2 GROUP BY ctx), " +
        "gcost2 AS (SELECT gram, floor(((-ln((c+1)::DOUBLE/(cc+vs)::DOUBLE))" +
        "::FLOAT)::DOUBLE*1000000)::BIGINT AS cost FROM gc2 JOIN cc2 USING (ctx), v2), " +
        "ccost2 AS (SELECT ctx, floor(((-ln(1::DOUBLE/(cc+vs)::DOUBLE))" +
        "::FLOAT)::DOUBLE*1000000)::BIGINT AS cost FROM cc2, v2), " +
        "dflt2 AS (SELECT floor(((-ln(1::DOUBLE/vs::DOUBLE))" +
        "::FLOAT)::DOUBLE*1000000)::BIGINT AS cost FROM v2), " +
        "probe2 AS (SELECT g.doc_id, coalesce(g2.cost, c2.cost, " +
        "(SELECT cost FROM dflt2)) AS cost FROM gr2 g " +
        "LEFT JOIN gcost2 g2 USING (gram) LEFT JOIN ccost2 c2 ON g.ctx = c2.ctx " +
        "WHERE g.doc_id % 5 = 0), " +
        "per2 AS (SELECT doc_id, count(*) AS n, sum(cost) AS s FROM probe2 " +
        "GROUP BY doc_id), " +
        "res2 AS (SELECT cw.doc_id, cw.source, cw.kept_tokens, " +
        "(CASE WHEN coalesce(per2.n,0)=0 THEN 0 ELSE per2.s // per2.n END)::BIGINT " +
        "AS avg_cost_micros FROM cw LEFT JOIN per2 USING (doc_id) " +
        "WHERE cw.doc_id % 5 = 0), " +
        "ps2 AS (SELECT avg_cost_micros AS m, count(*) AS cnt FROM res2 GROUP BY 1), " +
        "asg2 AS (SELECT m, coalesce(sum(cnt) OVER (ORDER BY m " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum, " +
        "sum(cnt) OVER () AS total FROM ps2), " +
        "sel AS (SELECT r.doc_id, r.source, r.avg_cost_micros, " +
        "sum(r.kept_tokens) OVER (PARTITION BY r.source " +
        "ORDER BY r.avg_cost_micros ASC, r.doc_id ASC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_tokens " +
        "FROM res2 r JOIN asg2 a ON r.avg_cost_micros = a.m " +
        "WHERE (1 + (a.cum * 3) // a.total) <= 2) " +
        "SELECT doc_id, source, avg_cost_micros, cum_tokens FROM sel " +
        "WHERE cum_tokens <= 1500"))
  )

  // Local-model weight artifact (shared across scale factors — the model is
  // data-independent): deterministic smallint/16 weights over 64 hash
  // buckets × 16 dims, written once per process if absent. Every value is a
  // small integer over a power-of-two denominator, so embeddings are exact
  // in float32 and in the oracle's doubles.
  private def localArtifact(): String = {
    val f = new java.io.File(graft.tables.Derived.root, "model_lin16.bin")
    if (!f.isFile) {
      f.getParentFile.mkdirs()
      val w = Array.tabulate(64, 16)((b, i) => (((b * 31 + i) % 97) - 48) / 16.0f)
      Embeddings.LocalModel.writeArtifact(f.toString, w)
    }
    f.toString
  }

  // The same weights exported to the public safetensors format (written
  // once per process if absent) — the q_embed_safetensors artifact.
  private def safetensorsArtifact(): String = {
    val f = new java.io.File(graft.tables.Derived.root,
      "model_lin16.safetensors")
    if (!f.isFile) {
      val w = Array.tabulate(64, 16)((b, i) => (((b * 31 + i) % 97) - 48) / 16.0f)
      graft.embed.Safetensors.write(f.toString, Seq("embedding" ->
        graft.embed.Safetensors.Tensor(Seq(64, 16), w.flatten)))
    }
    f.toString
  }

  /** The BPE gate artifact: a GPT-2-format vocab.json + merges.txt pair.
    * Base symbols are the 256 byte-encoder chars (id = byte value); the
    * merges are the ` the` and ` of` chains — chosen so the REAL merge
    * loop's output has a closed form over this corpus (single-spaced
    * lowercase words): per non-first word, merges applied = the length of
    * its prefix match against the chains, which the oracle replays with
    * LIKE cascades. Written once per process if absent. */
  private[queries] def bpeArtifact(): String = {
    import graft.embed.Bpe
    val dir = new java.io.File(graft.tables.Derived.root, "bpe_chains_v1")
    if (!new java.io.File(dir, "vocab.json").isFile) {
      val base = (0 until 256).map(b => Bpe.byteEncoder(b).toString -> b).toMap
      val extra = Map("Ġt" -> 256, "Ġth" -> 257, "Ġthe" -> 258,
        "Ġo" -> 259, "Ġof" -> 260)
      Bpe.writeModel(dir.toString, base ++ extra,
        Seq(("Ġ", "t"), ("Ġt", "h"), ("Ġth", "e"), ("Ġ", "o"), ("Ġo", "f")))
    }
    dir.toString
  }

  /** The BPE token count of one corpus word, as oracle SQL (the closed
    * form of the chain merges; `i` = word index, first word carries no
    * leading space so no chain applies). */
  private[queries] def bpeCountSql: String =
    "CASE WHEN i = 0 THEN len(t) ELSE 1 + len(t) - " +
      "(CASE WHEN t LIKE 'the%' THEN 3 WHEN t LIKE 'th%' THEN 2 " +
      "WHEN t LIKE 't%' THEN 1 WHEN t LIKE 'of%' THEN 2 " +
      "WHEN t LIKE 'o%' THEN 1 ELSE 0 END) END"

  /** The q_embed_transformer checkpoint: a real 2-layer/2-head BERT-layout
    * model whose every weight is a small DYADIC value (k/16 or k/32) from
    * an integer formula — exact in float32, exact in the oracle's doubles,
    * and regenerable inside the SQL string. Activations stay O(1) by
    * construction (LayerNorm after every block). */
  private object Tf {
    val H = 4; val Heads = 2; val HD: Int = H / Heads; val L = 2; val I = 8
    val MaxPos = 128; val V = 64
    val word: Array[Array[Float]] =
      Array.tabulate(V, H)((b, i) => (((b * 31 + i) % 97) - 48) / 16.0f)
    val pos: Array[Array[Float]] =
      Array.tabulate(MaxPos, H)((p, i) => (((p * 17 + i * 5) % 23) - 11) / 32.0f)
    val typ: Array[Float] = Array.tabulate(H)(i => (((i * 3) % 7) - 3) / 32.0f)
    private def lnG(salt: Int) =
      Array.tabulate(H)(i => 1.0f + (((i * 5 + salt) % 9) - 4) / 32.0f)
    private def lnB(salt: Int) =
      Array.tabulate(H)(i => (((i * 7 + salt) % 11) - 5) / 32.0f)
    private def mat(r: Int, c: Int, salt: Int) =
      Array.tabulate(r, c)((o, i) => (((salt + o * 7 + i * 3) % 19) - 9) / 32.0f)
    private def bias(n: Int, salt: Int) =
      Array.tabulate(n)(o => (((salt + o * 3) % 13) - 6) / 32.0f)
    val embG: Array[Float] = lnG(0)
    val embB: Array[Float] = lnB(0)
    final case class Lw(l: Int) {
      val q: Array[Array[Float]] = mat(H, H, l * 29 + 13)
      val qb: Array[Float] = bias(H, l * 11 + 5)
      val k: Array[Array[Float]] = mat(H, H, l * 29 + 26)
      val kb: Array[Float] = bias(H, l * 11 + 10)
      val v: Array[Array[Float]] = mat(H, H, l * 29 + 39)
      val vb: Array[Float] = bias(H, l * 11 + 15)
      val o: Array[Array[Float]] = mat(H, H, l * 29 + 52)
      val ob: Array[Float] = bias(H, l * 11 + 20)
      val lnAg: Array[Float] = lnG(l * 3 + 1)
      val lnAb: Array[Float] = lnB(l * 5 + 2)
      val wi: Array[Array[Float]] = mat(I, H, l * 23 + 3)
      val wib: Array[Float] = bias(I, l * 7 + 1)
      val wo: Array[Array[Float]] = mat(H, I, l * 19 + 7)
      val wob: Array[Float] = bias(H, l * 7 + 4)
      val lnOg: Array[Float] = lnG(l * 3 + 2)
      val lnOb: Array[Float] = lnB(l * 5 + 4)
    }
    val layers: Array[Lw] = Array.tabulate(L)(Lw)
  }

  /** Deterministic dyadic weights of the DECODER gate checkpoint (r16 —
    * the GPT-2-layout twin of [[Tf]]): hidden 4, 2 heads, 2 pre-LN causal
    * blocks, inner 8, learned positions, vocab 64 hash buckets. wte/wpe
    * use closed forms the oracle replays as arithmetic; block weights are
    * spliced as exact decimal literals (all values are /16 or /32 dyadics,
    * exact in float AND double). */
  private object Dtf {
    val H = 4; val Heads = 2; val HD: Int = H / Heads; val L = 2; val I = 8
    val MaxPos = 128; val V = 64
    // the decoder oracle reuses sqlLn, which iterates (and divides by)
    // Tf.H — widening one fixture without the other would silently
    // mis-normalize the replay (review r16-5)
    require(H == Tf.H, s"Dtf.H ($H) must equal Tf.H (${Tf.H}): sqlLn is shared")
    val wte: Array[Array[Float]] =
      Array.tabulate(V, H)((b, i) => (((b * 37 + i * 3) % 89) - 44) / 16.0f)
    val wpe: Array[Array[Float]] =
      Array.tabulate(MaxPos, H)((p, i) => (((p * 13 + i * 7) % 29) - 14) / 32.0f)
    private def lnG(salt: Int) =
      Array.tabulate(H)(i => 1.0f + (((i * 5 + salt) % 9) - 4) / 32.0f)
    private def lnB(salt: Int) =
      Array.tabulate(H)(i => (((i * 7 + salt) % 11) - 5) / 32.0f)
    private def mat(r: Int, c: Int, salt: Int) =
      Array.tabulate(r, c)((o, i) => (((salt + o * 11 + i * 5) % 17) - 8) / 32.0f)
    private def bias(n: Int, salt: Int) =
      Array.tabulate(n)(o => (((salt + o * 3) % 13) - 6) / 32.0f)
    final case class Bw(l: Int) {
      val ln1g: Array[Float] = lnG(l * 3 + 7)
      val ln1b: Array[Float] = lnB(l * 5 + 3)
      val q: Array[Array[Float]] = mat(H, H, l * 31 + 2)
      val qb: Array[Float] = bias(H, l * 13 + 1)
      val k: Array[Array[Float]] = mat(H, H, l * 31 + 9)
      val kb: Array[Float] = bias(H, l * 13 + 6)
      val v: Array[Array[Float]] = mat(H, H, l * 31 + 16)
      val vb: Array[Float] = bias(H, l * 13 + 11)
      val proj: Array[Array[Float]] = mat(H, H, l * 31 + 23)
      val projb: Array[Float] = bias(H, l * 13 + 3)
      val ln2g: Array[Float] = lnG(l * 3 + 8)
      val ln2b: Array[Float] = lnB(l * 5 + 6)
      val fc: Array[Array[Float]] = mat(I, H, l * 29 + 5)
      val fcb: Array[Float] = bias(I, l * 7 + 2)
      val fo: Array[Array[Float]] = mat(H, I, l * 23 + 11)
      val fob: Array[Float] = bias(H, l * 7 + 5)
    }
    val blocks: Array[Bw] = Array.tabulate(L)(Bw)
    val fg: Array[Float] = lnG(41)
    val fb: Array[Float] = lnB(43)
  }

  /** The GPT-2-layout checkpoint (wte/wpe/h.{i}/ln_f + config.json),
    * written once per process — the q_embed_decoder artifact. Linear
    * weights transpose into the Conv1D `[in, out]` storage convention the
    * real GPT-2 export uses, so the loader's transpose-back is exercised
    * for real. */
  /** The SPM-gate unigram vocab — id = array position, designed for a
    * CLOSED-FORM oracle replay: 0 = <unk>, 1 = "▁the" (-3), 2 = "▁of"
    * (-3), 3 = "▁" (-10), 4+(c-32) = printable-ASCII single chars (-10).
    * Viterbi therefore takes a multi-char piece exactly when the word
    * starts with it (one piece at -3 always beats its single-char
    * covering at -10 each), so tokens-per-word and the first token id
    * are CASE expressions over the word prefix. */
  private[queries] lazy val spmVocab: Seq[(String, Double)] =
    Seq(("<unk>", 0.0), ("▁the", -3.0), ("▁of", -3.0),
      ("▁", -10.0)) ++
      (32 to 126).map(c => (c.toChar.toString, -10.0))

  private[queries] def spmArtifact(): String = {
    val dir = new java.io.File(graft.tables.Derived.root, "spm_unigram_v1")
    if (!new java.io.File(dir, "tokenizer.json").isFile)
      graft.embed.SentencePiece.writeModel(dir.toString, spmVocab)
    dir.toString
  }

  private def decoderArtifact(): String =
    decoderArtifactIn("model_dec4_v1", rope = false)

  /** The RoPE decoder checkpoint WITH its natural SentencePiece unigram
    * tokenizer beside the weights (r17) — wte widened to cover the
    * char-level ids (same dyadic row formula, more rows). */
  private def decoderSpmArtifact(): String =
    decoderArtifactIn("model_dec4spm_v1", rope = true, vocabRows = 128,
      spm = true)

  /** The ROTARY twin: same weights, no wpe table, positions enter as Q/K
    * rotations (config `position_embedding_type: rotary` — the
    * GPT-NeoX/LLaMA family layout). */
  private def decoderRopeArtifact(): String =
    decoderArtifactIn("model_dec4rope_v1", rope = true)

  private def decoderArtifactIn(name: String, rope: Boolean,
                                vocabRows: Int = Dtf.V,
                                spm: Boolean = false): String = {
    import graft.embed.Safetensors
    val dir = new java.io.File(graft.tables.Derived.root, name)
    if (spm && !new java.io.File(dir, "tokenizer.json").isFile)
      graft.embed.SentencePiece.writeModel(dir.toString, spmVocab)
    val wf = new java.io.File(dir, "model.safetensors")
    if (!wf.isFile) {
      dir.mkdirs()
      val ts = Seq.newBuilder[(String, Safetensors.Tensor)]
      def t2(name: String, m: Array[Array[Float]]): Unit =
        ts += name -> Safetensors.Tensor(Seq(m.length, m.head.length), m.flatten)
      def t1(name: String, v: Array[Float]): Unit =
        ts += name -> Safetensors.Tensor(Seq(v.length), v)
      def conv1d(name: String, linW: Array[Array[Float]]): Unit =
        t2(name, Array.tabulate(linW.head.length, linW.length)(
          (i, o) => linW(o)(i))) // [out][in] → stored [in][out]
      // same dyadic row formula as Dtf.wte at any row count (an SPM
      // checkpoint needs rows for the char-level ids)
      t2("wte.weight", Array.tabulate(vocabRows, Dtf.H)(
        (b, i) => (((b * 37 + i * 3) % 89) - 44) / 16.0f))
      if (!rope) t2("wpe.weight", Dtf.wpe)
      Dtf.blocks.zipWithIndex.foreach { case (bw, l) =>
        val p = s"h.$l"
        t1(s"$p.ln_1.weight", bw.ln1g); t1(s"$p.ln_1.bias", bw.ln1b)
        conv1d(s"$p.attn.c_attn.weight", bw.q ++ bw.k ++ bw.v)
        t1(s"$p.attn.c_attn.bias", bw.qb ++ bw.kb ++ bw.vb)
        conv1d(s"$p.attn.c_proj.weight", bw.proj)
        t1(s"$p.attn.c_proj.bias", bw.projb)
        t1(s"$p.ln_2.weight", bw.ln2g); t1(s"$p.ln_2.bias", bw.ln2b)
        conv1d(s"$p.mlp.c_fc.weight", bw.fc)
        t1(s"$p.mlp.c_fc.bias", bw.fcb)
        conv1d(s"$p.mlp.c_proj.weight", bw.fo)
        t1(s"$p.mlp.c_proj.bias", bw.fob)
      }
      t1("ln_f.weight", Dtf.fg); t1("ln_f.bias", Dtf.fb)
      Safetensors.write(wf.toString, ts.result())
      // layer_norm_epsilon pinned to the oracle's literal (sqlLn splices
      // 1e-12); n_head is the required head count
      val posKey =
        if (rope) ""","position_embedding_type":"rotary"""" else ""
      java.nio.file.Files.write(new java.io.File(dir, "config.json").toPath,
        (s"""{"model_type":"gpt2","n_head":${Dtf.Heads},""" +
          s""""n_layer":${Dtf.L},"n_embd":${Dtf.H},""" +
          s""""layer_norm_epsilon":1e-12,""" +
          s""""n_positions":${Dtf.MaxPos}$posKey}""").getBytes("UTF-8"))
    }
    dir.toString
  }

  // The checkpoint directory (model.safetensors + config.json), written
  // once per process if absent — the q_embed_transformer artifact. The
  // `_wp` twin adds vocab.txt ([PAD]/[UNK]/[CLS]/[SEP] + the corpus word
  // list), which flips the provider into real WordPiece + special-token
  // mode over the SAME weights.
  private def transformerArtifact(): String =
    transformerArtifactIn("model_tf4_v1", withVocab = false)

  private def transformerArtifactWp(): String =
    transformerArtifactIn("model_tf4wp_v1", withVocab = true)

  private def transformerArtifactIn(name: String,
                                    withVocab: Boolean): String = {
    import graft.embed.Safetensors
    val dir = new java.io.File(graft.tables.Derived.root, name)
    val wf = new java.io.File(dir, "model.safetensors")
    if (!wf.isFile) {
      dir.mkdirs()
      val ts = Seq.newBuilder[(String, Safetensors.Tensor)]
      def t2(name: String, m: Array[Array[Float]]): Unit =
        ts += name -> Safetensors.Tensor(Seq(m.length, m.head.length), m.flatten)
      def t1(name: String, v: Array[Float]): Unit =
        ts += name -> Safetensors.Tensor(Seq(v.length), v)
      t2("embeddings.word_embeddings.weight", Tf.word)
      t2("embeddings.position_embeddings.weight", Tf.pos)
      t2("embeddings.token_type_embeddings.weight",
        Array(Tf.typ, Array.fill(Tf.H)(0.0f)))
      t1("embeddings.LayerNorm.weight", Tf.embG)
      t1("embeddings.LayerNorm.bias", Tf.embB)
      Tf.layers.zipWithIndex.foreach { case (lw, l) =>
        val b = s"encoder.layer.$l"
        t2(s"$b.attention.self.query.weight", lw.q)
        t1(s"$b.attention.self.query.bias", lw.qb)
        t2(s"$b.attention.self.key.weight", lw.k)
        t1(s"$b.attention.self.key.bias", lw.kb)
        t2(s"$b.attention.self.value.weight", lw.v)
        t1(s"$b.attention.self.value.bias", lw.vb)
        t2(s"$b.attention.output.dense.weight", lw.o)
        t1(s"$b.attention.output.dense.bias", lw.ob)
        t1(s"$b.attention.output.LayerNorm.weight", lw.lnAg)
        t1(s"$b.attention.output.LayerNorm.bias", lw.lnAb)
        t2(s"$b.intermediate.dense.weight", lw.wi)
        t1(s"$b.intermediate.dense.bias", lw.wib)
        t2(s"$b.output.dense.weight", lw.wo)
        t1(s"$b.output.dense.bias", lw.wob)
        t1(s"$b.output.LayerNorm.weight", lw.lnOg)
        t1(s"$b.output.LayerNorm.bias", lw.lnOb)
      }
      Safetensors.write(wf.toString, ts.result())
      java.nio.file.Files.write(new java.io.File(dir, "config.json").toPath,
        (s"""{"model_type":"bert","num_attention_heads":${Tf.Heads},""" +
          s""""num_hidden_layers":${Tf.L},"hidden_size":${Tf.H},""" +
          s""""layer_norm_eps":1e-12,""" +
          s""""max_position_embeddings":${Tf.MaxPos}}""").getBytes("UTF-8"))
      if (withVocab)
        java.nio.file.Files.write(new java.io.File(dir, "vocab.txt").toPath,
          (Seq("[PAD]", "[UNK]", "[CLS]", "[SEP]") ++ TfWords)
            .mkString("\n").getBytes("UTF-8"))
    }
    dir.toString
  }

  // ---- the SQL replay of the transformer forward (oracle generator) ----

  /** A float weight as its EXACT decimal literal (all Tf weights are
    * dyadic, so the expansion is short); negatives parenthesized for safe
    * in-expression splicing. */
  private def fmtF(f: Float): String = {
    val s = new java.math.BigDecimal(f.toDouble).stripTrailingZeros()
      .toPlainString
    if (s.startsWith("-")) s"($s)" else s
  }

  /** `W·x + b` for output row `o` over the named input columns — bias
    * first, then terms in input order (the engine's accumulation order). */
  private def sqlLin(w: Array[Array[Float]], b: Array[Float], o: Int,
                     cols: Seq[String]): String =
    fmtF(b(o)) + cols.indices.map(i =>
      s" + ${fmtF(w(o)(i))}*${cols(i)}").mkString

  /** LayerNorm over x0..x{H-1} as three chained CTEs ending in `pre`. */
  private def sqlLn(pre: String, in: String, g: Array[Float],
                    b: Array[Float]): String = {
    val xs = (0 until Tf.H).map(i => s"x$i")
    s"${pre}_mu AS (SELECT *, (${xs.mkString("+")})/${Tf.H} AS mu FROM $in), " +
      s"${pre}_vr AS (SELECT *, (" +
      xs.map(x => s"($x-mu)*($x-mu)").mkString("+") +
      s")/${Tf.H} AS vr FROM ${pre}_mu), " +
      s"$pre AS (SELECT doc_id, pos, " +
      (0 until Tf.H).map(i =>
        s"(x$i-mu)/sqrt(vr+1e-12)*${fmtF(g(i))}+${fmtF(b(i))} AS x$i")
        .mkString(", ") +
      s" FROM ${pre}_vr)"
  }

  /** One encoder layer (self-attention + FFN) reading CTE `in`, writing
    * CTE `out`. */
  private def sqlLayer(l: Int, in: String, out: String): String = {
    val lw = Tf.layers(l)
    val xs = (0 until Tf.H).map(i => s"x$i")
    val qkv = s"qkv$l AS (SELECT doc_id, pos, " +
      (0 until Tf.H).map(o => s"${sqlLin(lw.q, lw.qb, o, xs)} AS q$o")
        .mkString(", ") + ", " +
      (0 until Tf.H).map(o => s"${sqlLin(lw.k, lw.kb, o, xs)} AS k$o")
        .mkString(", ") + ", " +
      (0 until Tf.H).map(o => s"${sqlLin(lw.v, lw.vb, o, xs)} AS v$o")
        .mkString(", ") + s" FROM $in)"
    val sc = s"sc$l AS (SELECT a.doc_id, a.pos AS p, b.pos AS q, " +
      (0 until Tf.Heads).map { hh =>
        val terms = (0 until Tf.HD)
          .map(d => s"a.q${hh * Tf.HD + d}*b.k${hh * Tf.HD + d}")
          .mkString(" + ")
        s"($terms)/sqrt(${Tf.HD}.0) AS s$hh"
      }.mkString(", ") + ", " +
      (0 until Tf.H).map(i => s"b.v$i AS v$i").mkString(", ") +
      s" FROM qkv$l a JOIN qkv$l b ON a.doc_id = b.doc_id)"
    val sm = s"sm$l AS (SELECT *, " +
      (0 until Tf.Heads).map(hh =>
        s"max(s$hh) OVER (PARTITION BY doc_id, p) AS m$hh").mkString(", ") +
      s" FROM sc$l)"
    val ex = s"ex$l AS (SELECT *, " +
      (0 until Tf.Heads).map(hh => s"exp(s$hh - m$hh) AS e$hh")
        .mkString(", ") + s" FROM sm$l)"
    val sx = s"sx$l AS (SELECT *, " +
      (0 until Tf.Heads).map(hh =>
        s"sum(e$hh) OVER (PARTITION BY doc_id, p) AS z$hh").mkString(", ") +
      s" FROM ex$l)"
    val ctx = s"ctx$l AS (SELECT doc_id, p AS pos, " +
      (0 until Tf.H).map { i =>
        val hh = i / Tf.HD
        s"sum(e$hh/z$hh*v$i) AS c$i"
      }.mkString(", ") + s" FROM sx$l GROUP BY doc_id, p)"
    val cs = (0 until Tf.H).map(i => s"c.c$i")
    val ao = s"ao$l AS (SELECT c.doc_id, c.pos, " +
      (0 until Tf.H).map(o =>
        s"${sqlLin(lw.o, lw.ob, o, cs)} + h.x$o AS x$o").mkString(", ") +
      s" FROM ctx$l c JOIN $in h ON c.doc_id = h.doc_id AND c.pos = h.pos)"
    val lnA = sqlLn(s"ha$l", s"ao$l", lw.lnAg, lw.lnAb)
    val it = s"it$l AS (SELECT doc_id, pos, " + xs.mkString(", ") + ", " +
      (0 until Tf.I).map(o => s"${sqlLin(lw.wi, lw.wib, o, xs)} AS g$o")
        .mkString(", ") + s" FROM ha$l)"
    // DuckDB 1.0 has no tanh(); replay it as (e^2t-1)/(e^2t+1), clamped
    // (drift vs Math.tanh ~1 ulp — invisible under the float32 cast)
    val th = s"th$l AS (SELECT *, " +
      (0 until Tf.I).map(o =>
        s"0.7978845608028654*(g$o + 0.044715*g$o*g$o*g$o) AS t$o")
        .mkString(", ") + s" FROM it$l)"
    val gl = s"gl$l AS (SELECT doc_id, pos, " + xs.mkString(", ") + ", " +
      (0 until Tf.I).map(o =>
        s"0.5*g$o*(1+(CASE WHEN t$o > 20 THEN 1.0 WHEN t$o < -20 THEN -1.0" +
          s" ELSE (exp(2*t$o)-1)/(exp(2*t$o)+1) END)) AS a$o")
        .mkString(", ") + s" FROM th$l)"
    val as_ = (0 until Tf.I).map(i => s"a$i")
    val fo = s"fo$l AS (SELECT doc_id, pos, " +
      (0 until Tf.H).map(o =>
        s"${sqlLin(lw.wo, lw.wob, o, as_)} + x$o AS x$o").mkString(", ") +
      s" FROM gl$l)"
    val lnO = sqlLn(out, s"fo$l", lw.lnOg, lw.lnOb)
    Seq(qkv, sc, sm, ex, sx, ctx, ao, lnA, it, th, gl, fo, lnO).mkString(", ")
  }

  /** One DECODER block (pre-LN causal attention + pre-LN FFN) reading CTE
    * `in`, writing CTE `out` — the [[sqlLayer]] twin with the two
    * decoder-defining differences: the score join is CAUSAL
    * (`b.pos <= a.pos`) and both residuals add the PRE-LayerNorm block
    * input (GPT-2's pre-LN wiring), so each LN feeds only its own
    * sub-layer. */
  private def dSqlLayer(l: Int, in: String, out: String,
                        rope: Boolean = false): String = {
    val bw = Dtf.blocks(l)
    val xs = (0 until Dtf.H).map(i => s"x$i")
    // pre-attention LN over the block input
    val ln1 = sqlLn(s"da$l", in, bw.ln1g, bw.ln1b)
    val qkv = s"dqkv$l AS (SELECT doc_id, pos, " +
      (0 until Dtf.H).map(o => s"${sqlLin(bw.q, bw.qb, o, xs)} AS q$o")
        .mkString(", ") + ", " +
      (0 until Dtf.H).map(o => s"${sqlLin(bw.k, bw.kb, o, xs)} AS k$o")
        .mkString(", ") + ", " +
      (0 until Dtf.H).map(o => s"${sqlLin(bw.v, bw.vb, o, xs)} AS v$o")
        .mkString(", ") + s" FROM da$l)"
    // ROPE: rotate each head's (q/k) pair by angle pos·θ_0; with HD=2
    // there is one pair per head and θ_0 = 10000^0 = 1, so the angle IS
    // the position — the engine's applyRope replayed as cos/sin columns
    val scSrc = if (!rope) s"dqkv$l" else s"drot$l"
    val rot = if (!rope) "" else {
      // source columns qualified (t.) so the new same-named aliases can
      // never capture the rotation inputs via lateral alias resolution
      def rotPair(pfx: Char, o0: Int): String =
        s"t.$pfx$o0*cos(t.pos) - t.$pfx${o0 + 1}*sin(t.pos) AS $pfx$o0, " +
          s"t.$pfx$o0*sin(t.pos) + t.$pfx${o0 + 1}*cos(t.pos) AS $pfx${o0 + 1}"
      s"drot$l AS (SELECT t.doc_id, t.pos, " +
        (0 until Dtf.Heads).map(hh => rotPair('q', hh * Dtf.HD))
          .mkString(", ") + ", " +
        (0 until Dtf.Heads).map(hh => rotPair('k', hh * Dtf.HD))
          .mkString(", ") + ", " +
        (0 until Dtf.H).map(i => s"t.v$i").mkString(", ") +
        s" FROM dqkv$l t), "
    }
    // CAUSAL: position p attends to positions q <= p only
    val sc = rot + s"dsc$l AS (SELECT a.doc_id, a.pos AS p, b.pos AS q, " +
      (0 until Dtf.Heads).map { hh =>
        val terms = (0 until Dtf.HD)
          .map(d => s"a.q${hh * Dtf.HD + d}*b.k${hh * Dtf.HD + d}")
          .mkString(" + ")
        s"($terms)/sqrt(${Dtf.HD}.0) AS s$hh"
      }.mkString(", ") + ", " +
      (0 until Dtf.H).map(i => s"b.v$i AS v$i").mkString(", ") +
      s" FROM $scSrc a JOIN $scSrc b ON a.doc_id = b.doc_id" +
      " AND b.pos <= a.pos)"
    val sm = s"dsm$l AS (SELECT *, " +
      (0 until Dtf.Heads).map(hh =>
        s"max(s$hh) OVER (PARTITION BY doc_id, p) AS m$hh").mkString(", ") +
      s" FROM dsc$l)"
    val ex = s"dex$l AS (SELECT *, " +
      (0 until Dtf.Heads).map(hh => s"exp(s$hh - m$hh) AS e$hh")
        .mkString(", ") + s" FROM dsm$l)"
    val sx = s"dsx$l AS (SELECT *, " +
      (0 until Dtf.Heads).map(hh =>
        s"sum(e$hh) OVER (PARTITION BY doc_id, p) AS z$hh").mkString(", ") +
      s" FROM dex$l)"
    val ctx = s"dctx$l AS (SELECT doc_id, p AS pos, " +
      (0 until Dtf.H).map { i =>
        val hh = i / Dtf.HD
        s"sum(e$hh/z$hh*v$i) AS c$i"
      }.mkString(", ") + s" FROM dsx$l GROUP BY doc_id, p)"
    // attention projection + residual from the BLOCK INPUT (pre-LN)
    val cs = (0 until Dtf.H).map(i => s"c.c$i")
    val ao = s"dao$l AS (SELECT c.doc_id, c.pos, " +
      (0 until Dtf.H).map(o =>
        s"h.x$o + (${sqlLin(bw.proj, bw.projb, o, cs)}) AS x$o")
        .mkString(", ") +
      s" FROM dctx$l c JOIN $in h ON c.doc_id = h.doc_id AND c.pos = h.pos)"
    // pre-FFN LN, then gelu(c_fc)·c_proj + residual from dao
    val ln2 = sqlLn(s"dm$l", s"dao$l", bw.ln2g, bw.ln2b)
    val ms = (0 until Dtf.H).map(i => s"m.x$i")
    val it = s"dit$l AS (SELECT m.doc_id, m.pos, " +
      (0 until Dtf.H).map(i => s"h.x$i AS x$i").mkString(", ") + ", " +
      (0 until Dtf.I).map(o => s"${sqlLin(bw.fc, bw.fcb, o, ms)} AS g$o")
        .mkString(", ") +
      s" FROM dm$l m JOIN dao$l h ON m.doc_id = h.doc_id AND m.pos = h.pos)"
    val th = s"dth$l AS (SELECT *, " +
      (0 until Dtf.I).map(o =>
        s"0.7978845608028654*(g$o + 0.044715*g$o*g$o*g$o) AS t$o")
        .mkString(", ") + s" FROM dit$l)"
    val gl = s"dgl$l AS (SELECT doc_id, pos, " + xs.mkString(", ") + ", " +
      (0 until Dtf.I).map(o =>
        s"0.5*g$o*(1+(CASE WHEN t$o > 20 THEN 1.0 WHEN t$o < -20 THEN -1.0" +
          s" ELSE (exp(2*t$o)-1)/(exp(2*t$o)+1) END)) AS a$o")
        .mkString(", ") + s" FROM dth$l)"
    val as_ = (0 until Dtf.I).map(i => s"a$i")
    val fo = s"$out AS (SELECT doc_id, pos, " +
      (0 until Dtf.H).map(o =>
        s"x$o + (${sqlLin(bw.fo, bw.fob, o, as_)}) AS x$o").mkString(", ") +
      s" FROM dgl$l)"
    Seq(ln1, qkv, sc, sm, ex, sx, ctx, ao, ln2, it, th, gl, fo).mkString(", ")
  }

  /** The decoder forward as oracle SQL: hash tokens → wte+wpe (closed
    * forms, NO embedding LayerNorm) → L pre-LN causal blocks → ln_f →
    * LAST-TOKEN pool → L2 normalize → float32. */
  /** SentencePiece-unigram token CTE (r17): the closed-form replay of
    * the [[spmVocab]] Viterbi — per word, the id list is [1] + char ids
    * past "the", [2] + char ids past "of", or [3] + all char ids (char c
    * → 4 + codepoint - 32); global positions by (word, piece) order,
    * truncated at the position budget exactly like the provider's
    * take(cap). */
  private def spmTokCte: String =
    "tok0 AS (SELECT doc_id, unnest(range(len(w))) AS i, unnest(w) AS tk FROM dd), " +
      "tokl AS (SELECT doc_id, i, (CASE " +
      "WHEN tk LIKE 'the%' THEN [1::BIGINT] || list_transform(range(3, len(tk)), j -> 4 + unicode(substr(tk, j + 1, 1))::BIGINT - 32) " +
      "WHEN tk LIKE 'of%' THEN [2::BIGINT] || list_transform(range(2, len(tk)), j -> 4 + unicode(substr(tk, j + 1, 1))::BIGINT - 32) " +
      "ELSE [3::BIGINT] || list_transform(range(len(tk)), j -> 4 + unicode(substr(tk, j + 1, 1))::BIGINT - 32) END) AS ids FROM tok0), " +
      "tokf AS (SELECT doc_id, i, unnest(range(len(ids))) AS j, unnest(ids) AS b FROM tokl), " +
      "tokp AS (SELECT doc_id, b, row_number() OVER (PARTITION BY doc_id ORDER BY i, j) - 1 AS pos FROM tokf), " +
      s"tok AS (SELECT doc_id, pos, b FROM tokp WHERE pos < ${Dtf.MaxPos})"

  private def decOracleSql(rope: Boolean = false,
                           tokCte: Option[String] = None): String = {
    val hashTokCte =
      "tok0 AS (SELECT doc_id, unnest(range(len(w))) AS pos, unnest(w) AS tk FROM dd), " +
        "tok AS (SELECT doc_id, pos, list_reduce(list_prepend(0::BIGINT, " +
        "list_transform(string_split(tk,''), c -> unicode(c)::BIGINT)), " +
        s"(a, b) -> (a*31 + b) % 1000000007) % ${Dtf.V} AS b FROM tok0 " +
        s"WHERE pos < ${Dtf.MaxPos})"
    val head =
      raw"WITH dd AS (SELECT doc_id, list_filter(string_split_regex(trim(text),'\s+'), t -> t <> '') w FROM documents), " +
        tokCte.getOrElse(hashTokCte)
    // rotary checkpoints have no wpe term — positions enter in attention
    val e = "dh0 AS (SELECT doc_id, pos, " +
      (0 until Dtf.H).map(i =>
        s"((b*37 + ${i * 3}) % 89 - 44)/16.0" +
          (if (rope) "" else s" + ((pos*13 + ${i * 7}) % 29 - 14)/32.0") +
          s" AS x$i").mkString(", ") +
      " FROM tok)"
    val blocks = (0 until Dtf.L).map(l =>
      dSqlLayer(l, s"dh$l", s"dh${l + 1}", rope))
    val lnF = sqlLn("dhf", s"dh${Dtf.L}", Dtf.fg, Dtf.fb)
    val pool = "lastp AS (SELECT doc_id, max(pos) AS mp FROM dhf GROUP BY doc_id), " +
      "pool AS (SELECT h.doc_id, " +
      (0 until Dtf.H).map(i => s"h.x$i AS p$i").mkString(", ") +
      " FROM dhf h JOIN lastp lp ON h.doc_id = lp.doc_id AND h.pos = lp.mp)"
    val nrm = "nrm AS (SELECT *, sqrt(" +
      (0 until Dtf.H).map(i => s"p$i*p$i").mkString(" + ") +
      ") AS nn FROM pool)"
    val fin = "SELECT d.doc_id, " +
      (0 until Dtf.H).map(i =>
        s"coalesce(CASE WHEN n.nn > 0 THEN n.p$i/n.nn END, 0)::FLOAT AS e$i")
        .mkString(", ") +
      " FROM dd d LEFT JOIN nrm n ON d.doc_id = n.doc_id"
    (Seq(head, e) ++ blocks ++ Seq(lnF, pool, nrm)).mkString(", ") + " " + fin
  }

  /** The corpus's complete (fixed) word list, sorted — the WordPiece gate
    * vocab is `[PAD] [UNK] [CLS] [SEP]` + these, so id(word) = 4 + rank
    * and the oracle replays the lookup as a CASE. */
  // lazy: referenced from the `defs` map initializer above, which runs
  // before this point of the object body
  private lazy val TfWords = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "dup", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  /** Hash-tokenizer token CTE: (doc_id, pos, b) with b = rolling-hash
    * bucket (the no-vocab mode's row addressing). */
  private def tfTokHashCte: String =
    "tok0 AS (SELECT doc_id, unnest(range(len(w))) AS pos, unnest(w) AS tk FROM dd), " +
      "tok AS (SELECT doc_id, pos, list_reduce(list_prepend(0::BIGINT, " +
      "list_transform(string_split(tk,''), c -> unicode(c)::BIGINT)), " +
      s"(a, b) -> (a*31 + b) % 1000000007) % ${Tf.V} AS b FROM tok0 " +
      s"WHERE pos < ${Tf.MaxPos})"

  /** WordPiece token CTE: `[CLS]` at position 0, vocab-id'd words shifted
    * by one, `[SEP]` after the last — the BERT input convention the
    * provider applies when the checkpoint ships a vocab. */
  private def tfTokWpCte: String = {
    val cases = TfWords.zipWithIndex
      .map { case (wd, i) => s"WHEN '$wd' THEN ${i + 4}" }.mkString(" ")
    "tok0 AS (SELECT doc_id, unnest(range(len(w))) AS i, unnest(w) AS tk FROM dd), " +
      s"tokw AS (SELECT doc_id, i + 1 AS pos, (CASE tk $cases ELSE 1 END) AS b FROM tok0), " +
      "tok AS (SELECT doc_id, 0 AS pos, 2 AS b FROM dd " +
      "UNION ALL SELECT doc_id, pos, b FROM tokw " +
      "UNION ALL SELECT doc_id, len(w) + 1 AS pos, 3 AS b FROM dd)"
  }

  private def tfOracleParts(tokCte: String): (String, String) = {
    val head =
      raw"WITH dd AS (SELECT doc_id, list_filter(string_split_regex(trim(text),'\s+'), t -> t <> '') w FROM documents), " +
        tokCte
    val e = "e AS (SELECT doc_id, pos, " +
      (0 until Tf.H).map(i =>
        s"((b*31 + $i) % 97 - 48)/16.0 + ((pos*17 + ${i * 5}) % 23 - 11)/32.0" +
          s" + ${fmtF(Tf.typ(i))} AS x$i").mkString(", ") + " FROM tok)"
    val ln0 = sqlLn("h0", "e", Tf.embG, Tf.embB)
    val layers = (0 until Tf.L).map(l => sqlLayer(l, s"h$l", s"h${l + 1}"))
    val pool = s"pool AS (SELECT doc_id, " +
      (0 until Tf.H).map(i => s"sum(x$i)/count(*) AS p$i").mkString(", ") +
      s" FROM h${Tf.L} GROUP BY doc_id)"
    val nrm = "nrm AS (SELECT *, sqrt(" +
      (0 until Tf.H).map(i => s"p$i*p$i").mkString(" + ") +
      ") AS nn FROM pool)"
    val fin = "SELECT d.doc_id, " +
      (0 until Tf.H).map(i =>
        s"coalesce(CASE WHEN n.nn > 0 THEN n.p$i/n.nn END, 0)::FLOAT AS e$i")
        .mkString(", ") +
      " FROM dd d LEFT JOIN nrm n ON d.doc_id = n.doc_id"
    ((Seq(head, e, ln0) ++ layers ++ Seq(pool, nrm)).mkString(", "), fin)
  }

  private def tfOracleSql(tokCte: String = tfTokHashCte): String = {
    val (ctes, fin) = tfOracleParts(tokCte)
    ctes + " " + fin
  }

  /** The whole forward as a CTE chain ending in `fin(doc_id, e0..)` —
    * composable oracles (the semantic-search gate chains a distance
    * top-k after it). */
  private def tfChainWithFin(tokCte: String): String = {
    val (ctes, fin) = tfOracleParts(tokCte)
    ctes + s", fin AS ($fin)"
  }

  // Memoized clustered-graph index over the semantic corpus (per sfDir) —
  // the search side of the embed→index→search composition.
  private val semIdxCache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private def semIndex(s: org.apache.spark.sql.SparkSession, d: String): String =
    semIdxCache.getOrElseUpdate(d, {
      val semPath = graft.tables.Derived.tablePath(s, d, "documents_sem")
      val path = graft.tables.Derived.path(d, "hnswc_documents_sem")
      if (!new java.io.File(graft.vector.Hnsw.routePath(path), "_SUCCESS").isFile)
        graft.vector.Hnsw.buildIndexClustered(graft.engine.Graft.cachedRead(s, semPath),
          "emb", "doc_id", path,
          graft.vector.Hnsw.Params(m = 8, efC = 64, partitions = 8))
      path
    })

  /** The dd/tok/hashed/emb oracle prefix shared by the semantic gates:
    * whitespace tokens → 31-polynomial codepoint hash mod `dim` buckets →
    * per-doc count vector — the SQL replay of
    * `Embeddings.HashingProvider(dim, normalize = false)` (one definition;
    * review r15-5). */
  private def semEmbCte(dim: Int): String =
    raw"WITH dd AS (SELECT doc_id, list_filter(string_split_regex(trim(text),'\s+'), t -> t <> '') w " +
      "FROM documents), tok AS (SELECT doc_id, unnest(w) AS t FROM dd), " +
      "hashed AS (SELECT doc_id, list_reduce(list_prepend(0::BIGINT, " +
      "list_transform(string_split(t,''), c -> unicode(c)::BIGINT)), " +
      s"(a, b) -> (a*31 + b) % 1000000007) % $dim AS bucket FROM tok), " +
      "emb AS (SELECT d.doc_id, [" +
      (0 until dim).map(i =>
        s"coalesce(sum(CASE WHEN h.bucket=$i THEN 1 ELSE 0 END),0)::DOUBLE")
        .mkString(", ") +
      "] AS e FROM dd d LEFT JOIN hashed h ON h.doc_id = d.doc_id GROUP BY d.doc_id)"

  // v7's CORPUS-split clustered graph + layer hierarchy (the layers
  // sidecar is written last, so its _SUCCESS implies graph + route
  // completed too).
  private def v7Index(s: org.apache.spark.sql.SparkSession, d: String): String =
    semIdxCache.getOrElseUpdate(d + "#v7", {
      val semPath = graft.tables.Derived.tablePath(s, d, "documents_sem")
      val path = graft.tables.Derived.path(d, "hnswc_documents_sem_corpus")
      val p = graft.vector.Hnsw.Params(m = 8, efC = 64, partitions = 8)
      if (!new java.io.File(graft.vector.Hnsw.layersPath(path), "_SUCCESS").isFile) {
        graft.vector.Hnsw.buildIndexClustered(
          graft.engine.Graft.cachedRead(s, semPath).filter(col("doc_id") % 10 =!= 7),
          "emb", "doc_id", path, p)
        graft.vector.Hnsw.buildHierarchy(s, path, p)
      }
      path
    })

  /** The v7 semantic screen at a given beam width — ONE body behind the
    * gate (full ef, DuckDB-oracle-exact) and the BenchScale deep-scale
    * row (serving ef), so the two can never silently diverge (review
    * r17-5). */
  private def v7Screen(s: org.apache.spark.sql.SparkSession, d: String,
                       ef: Int): org.apache.spark.sql.DataFrame = {
    val sem = graft.tables.Derived.table(s, d, "documents_sem")
    val batch = sem.filter(col("doc_id") % 10 === 7)
    val idx = v7Index(s, d)
    val nn = graft.vector.Hnsw.knnJoinRouted(s, idx,
      batch.select(col("doc_id"), col("emb")), "doc_id", "emb",
      "nn_id", k = 1, ef = ef, hier = true)
    batch.join(nn.select(col("doc_id"), col("dist")), Seq("doc_id"))
      .withColumn("keep", col("dist") >= 3.5)
      .groupBy(col("source"))
      .agg(
        sum(when(col("keep"), 1L).otherwise(0L)).as("kept"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("dropped"),
        sum(when(col("keep"),
            graft.pipeline.TextFunctions.tokenCount(col("text"))
              .cast("long"))
          .otherwise(0L)).as("tokens_kept"),
        sum(round(col("dist") * col("dist")).cast("long"))
          .as("nn_sq_sum"))
  }

  /** BENCH-ONLY (BenchScale's deep-scale row): the v7 SEMANTIC SCREEN at
    * SERVING beam width. The GATE runs the screen at full ef so DuckDB
    * can oracle it — but a full-ef beam is an exhaustive walk, i.e. an
    * exact NN join, whose work is |batch|·|corpus| BY DEFINITION
    * (quadratic in the scale factor — a property of exactness, not of
    * the engine). The 100 TB deployment runs the screen at a real beam
    * width, so the scale row measures the SAME stages (memoized
    * embeddings → hierarchical routed batch join → threshold →
    * accounting) at ef = 64 — the width every other BENCH_SF1 ANN
    * economics row uses. */
  def v7ScreenServing(s: org.apache.spark.sql.SparkSession,
                      d: String): org.apache.spark.sql.DataFrame =
    v7Screen(s, d, ef = 64)
}
