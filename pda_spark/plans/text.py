"""Registry text and dedup queries: tokens, language id, fingerprint, MinHash
and SimHash dedup, corpus curation and filtering, search indexes and
tokenizers.

Builders and oracle SQL follow the conventions stated in registry.py.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from pda_spark.functions import dedup, graph, text
from pda_spark.plans.fixtures import _t, _url_norm_ctes


def q20_token_stats(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return text.quality_features(docs).select(
        "doc_id", "n_chars_calc", "n_tokens", "n_tokens_bpe", "punct_ratio", "mean_token_len", "quality_ok"
    )


Q20_SQL = r"""
SELECT doc_id,
       length(text) AS n_chars_calc,
       len(string_split_regex(trim(text), '\s+')) AS n_tokens,
       len(string_split_regex(trim(text), '[\s[:punct:]]+')) AS n_tokens_bpe,
       round((length(text) - length(regexp_replace(text, '[.,;:!?''"()\[\]-]', '', 'g'))) / greatest(length(text), 1), 6) AS punct_ratio,
       round(length(text) / greatest(len(string_split_regex(trim(text), '\s+')), 1), 6) AS mean_token_len,
       (len(string_split_regex(trim(text), '\s+')) >= 5
        AND round((length(text) - length(regexp_replace(text, '[.,;:!?''"()\[\]-]', '', 'g'))) / greatest(length(text), 1), 6) <= 0.3
        AND round(length(text) / greatest(len(string_split_regex(trim(text), '\s+')), 1), 6) BETWEEN 2.0 AND 15.0) AS quality_ok
FROM documents
"""


def q21_lang_id(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return text.lang_id(docs).select("doc_id", "lang", "lang_pred")


def _lang_id_sql() -> str:
    scores = {
        lang: rf"len(regexp_extract_all(lower(text), '\b({'|'.join(words)})\b'))"
        for lang, words in text.LANG_STOPWORDS.items()
    }
    best = "greatest(" + ", ".join(scores.values()) + ")"
    cases = " ".join(f"WHEN {scores[lang]} = best THEN '{lang}'" for lang in text.LANG_STOPWORDS)
    return f"""
SELECT doc_id, lang,
       CASE WHEN best <= 0 THEN 'und' {cases} END AS lang_pred
FROM (SELECT doc_id, lang, text, {best} AS best FROM documents)
"""


def q23_fingerprint_groups(spark, sf_dir):
    """Document fingerprinting: md5 over normalized text, group sizes."""
    docs = _t(spark, sf_dir, "documents")
    # doc_ids sorted numerically, then joined to a string (array columns
    # break the driver's hash canonicalizer).
    return (
        docs.withColumn("fp", text.fingerprint(F.col("text")))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr(
                "array_join(transform(sort_array(collect_list(doc_id)), x -> cast(x as string)), ',')"
            ).alias("doc_ids"),
        )
    )


Q23_SQL = r"""
SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
       count(*) AS n_docs,
       array_to_string(list_sort(list(doc_id)), ',') AS doc_ids
FROM documents GROUP BY 1
"""


def q24_dedup_counts(spark, sf_dir):
    """Exact-dedup statistics per lang: rows vs distinct fingerprints."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("fp", text.fingerprint(F.col("text")))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.countDistinct("fp").alias("n_unique"))
    )


Q24_SQL = r"""
SELECT lang, count(*) AS n_docs,
       count(DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) AS n_unique
FROM documents GROUP BY lang
"""


_JACCARD_LIMIT = 150
_JACCARD_K = 5
_JACCARD_T = 0.1


def q25_ngram_jaccard(spark, sf_dir):
    # max_doc_freq exercises the scale-path DF cap without binding at the
    # gate scales (max shingle df is 129 over these 150 docs), so the
    # uncapped DuckDB oracle still matches exactly; the binding case is
    # unit-tested in tests/test_pipeline_ops.py
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < _JACCARD_LIMIT)
    return dedup.ngram_jaccard_pairs(
        docs, "doc_id", k=_JACCARD_K, threshold=_JACCARD_T, max_doc_freq=_JACCARD_LIMIT
    )


Q25_SQL = rf"""
WITH norm AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
  FROM documents WHERE doc_id < {_JACCARD_LIMIT}
), sh AS (
  SELECT doc_id, unnest(list_distinct([substring(t, i, {_JACCARD_K})
         for i in range(1, greatest(length(t) - {_JACCARD_K - 1}, 1) + 1)])) AS s
  FROM norm
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_common, sa.n_sh AS n_a, sb.n_sh AS n_b,
       round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
FROM pairs
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) >= {_JACCARD_T}
"""

_CDC_W = 8


def q29_cdc_chunks(spark, sf_dir):
    """Rolling-hash content-defined chunking (document fingerprinting for
    partial-duplicate detection) — pure Catalyst; the oracle replays the
    same hash-gated cut rule with DuckDB list comprehensions."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return dedup.cdc_chunk_fingerprints(docs, "doc_id", window=_CDC_W)


Q29_SQL = rf"""
WITH n AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
  FROM documents WHERE doc_id < 200
), b AS (
  SELECT doc_id, t,
         [1] || [i for i in range(2, greatest(length(t) - {_CDC_W - 1}, 1) + 1)
                 if substring(md5(substring(t, i, {_CDC_W})), 1, 2) = '00']
             || [length(t) + 1] AS bp
  FROM n
), c AS (
  SELECT doc_id,
         unnest([j - 1 for j in range(1, len(bp))]) AS chunk_no,
         unnest([substring(t, bp[j], bp[j + 1] - bp[j]) for j in range(1, len(bp))]) AS chunk
  FROM b
)
SELECT doc_id, chunk_no, md5(chunk) AS chunk_fp, length(chunk) AS chunk_len
FROM c WHERE length(chunk) > 0
"""


_MINHASH_N = 4


def q26_minhash(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < _JACCARD_LIMIT)
    return dedup.minhash_signatures(docs, "doc_id", k=_JACCARD_K, n_hashes=_MINHASH_N)


def _minhash_sql(src: str | None = None) -> str:
    """DuckDB minhash-signature fragment; ``src`` overrides the FROM
    clause (must expose doc_id, text) so pipeline oracles (q56) can
    compute signatures over an intermediate CTE instead of the table."""
    if src is None:
        src = f"documents WHERE doc_id < {_JACCARD_LIMIT}"
    coeffs = dedup.minhash_coeffs(_MINHASH_N, seed=42)
    mins = ", ".join(
        f"min((({a % 4096} * h + {b % (1 << 50)}) % {dedup.MINHASH_PRIME})) AS mh_{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    return rf"""
WITH norm AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
  FROM {src}
), sh AS (
  SELECT DISTINCT doc_id,
         ('0x' || substring(md5(unnest([substring(t, i, {_JACCARD_K})
              for i in range(1, greatest(length(t) - {_JACCARD_K - 1}, 1) + 1)])), 1, 12))::BIGINT AS h
  FROM norm
)
SELECT doc_id, {mins} FROM sh GROUP BY doc_id
"""


_SIMHASH_BITS = 16


def q27_simhash(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < _JACCARD_LIMIT)
    return dedup.simhash(docs, "doc_id", n_bits=_SIMHASH_BITS)


def _simhash_sql() -> str:
    sums = ", ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s_{j}" for j in range(_SIMHASH_BITS)
    )
    sig = " + ".join(f"(CASE WHEN s_{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(_SIMHASH_BITS))
    return rf"""
WITH toks AS (
  SELECT doc_id,
         ('0x' || substring(md5(unnest(string_split_regex(lower(trim(text)), '\s+'))), 1, 12))::BIGINT AS h
  FROM documents WHERE doc_id < {_JACCARD_LIMIT}
), sums AS (
  SELECT doc_id, {sums} FROM toks GROUP BY doc_id
)
SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM sums
"""


def q77_heavy_hitters(spark, sf_dir):
    """Exact relative-threshold heavy hitters: corpus tokens whose count
    exceeds 0.2% of ALL tokens (the scalar-subquery-over-aggregate
    shape q60's fixed top-k doesn't cover). ppm is floor-based integer
    arithmetic, portable by construction. Scale path: this IS the exact
    two-aggregate plan a Misra-Gries sketch approximates; the exact form
    stays one map-side-combinable count + a broadcast of one scalar."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok")
    )
    cnt = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n_tok"))
    # total is derivable from the per-token counts — summing `cnt`
    # re-reads the tiny aggregate, NOT the corpus (VERDICT r4: the old
    # toks.agg(count(*)) re-executed the whole split+explode scan)
    total = cnt.agg(F.sum("n_tok").alias("_t"))
    return (
        cnt.crossJoin(F.broadcast(total))
        .filter(F.col("n_tok") * 500 > F.col("_t"))  # n/total > 0.002, integer-exact
        .select(
            "tok",
            "n_tok",
            F.floor(F.lit(1_000_000) * F.col("n_tok") / F.col("_t")).cast("long").alias("ppm"),
        )
    )


Q77_SQL = r"""
WITH toks AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok FROM documents
), cnt AS (
  SELECT tok, count(*) AS n_tok FROM toks GROUP BY tok
), tot AS (
  SELECT count(*) AS t FROM toks
)
SELECT tok, CAST(n_tok AS BIGINT) AS n_tok,
       CAST(floor(1000000 * n_tok / t) AS BIGINT) AS ppm
FROM cnt, tot WHERE n_tok * 500 > t
"""


def q71_decontaminate(spark, sf_dir):
    """Benchmark decontamination (train-test overlap, GPT-3/Pile style):
    eval set = every 97th doc; each training doc counts the DISTINCT
    5-gram shingles it shares with the eval set (broadcast eval shingle
    hashes; the oracle joins raw substrings — hash equality == substring
    equality at these scales, same argument as the q26 band join)."""
    base = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    ev = base.filter(F.pmod(F.col("doc_id"), F.lit(97)) == 0)
    tr = base.filter(F.pmod(F.col("doc_id"), F.lit(97)) != 0)
    return dedup.decontaminate(tr, ev, "doc_id", k=_JACCARD_K)


Q71_SQL = rf"""
WITH base AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
  FROM documents WHERE doc_id < 500
), sh AS (
  SELECT doc_id, unnest(list_distinct([substring(t, i, {_JACCARD_K})
         for i in range(1, greatest(length(t) - {_JACCARD_K - 1}, 1) + 1)])) AS s
  FROM base
), ev AS (
  SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0
), hits AS (
  SELECT sh.doc_id, count(*) AS n FROM sh JOIN ev ON sh.s = ev.s
  WHERE sh.doc_id % 97 <> 0 GROUP BY sh.doc_id
)
SELECT b.doc_id,
       CAST(coalesce(hits.n, 0) AS BIGINT) AS n_shared_grams,
       coalesce(hits.n, 0) > 0 AS contaminated
FROM base b LEFT JOIN hits ON b.doc_id = hits.doc_id
WHERE b.doc_id % 97 <> 0
"""


def q72_corpus_quality(spark, sf_dir):
    """Corpus-frequency quality signals (CCNet/Gopher 'how typical'
    family without a language model): mean corpus token frequency and
    rare-token share per doc — integer sums + one explicit double
    division per signal, so the oracle is exact (no libm log, no avg()
    accumulation order)."""
    docs = _t(spark, sf_dir, "documents")
    out = text.corpus_frequency_quality(docs)
    return out.select(
        "doc_id", "n_toks", "sum_freq",
        F.round("mean_tok_freq", 6).alias("mean_tok_freq"),
        F.round("rare_tok_ratio", 6).alias("rare_tok_ratio"),
    )


Q72_SQL = r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
  FROM documents
), cnt AS (
  SELECT tok, count(*) AS c FROM toks GROUP BY tok
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_toks,
       CAST(sum(c) AS BIGINT) AS sum_freq,
       round(CAST(sum(c) AS DOUBLE) / count(*), 6) AS mean_tok_freq,
       round(CAST(sum(CASE WHEN c <= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
         AS rare_tok_ratio
FROM toks JOIN cnt USING (tok)
GROUP BY doc_id
"""


def q73_quota_sample(spark, sf_dir):
    """Per-language character-budget sampling (the data-mixture
    operator): deterministic Knuth-hash order, running char sum per
    language, keep while under budget. Stable under re-partitioning and
    fully reproducible in SQL."""
    docs = _t(spark, sf_dir, "documents")
    out = text.quota_sample_by_chars(docs, budget_per_lang=20_000)
    return out.select("doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars"), "cum_chars")


Q73_SQL = """
WITH h AS (
  SELECT doc_id, lang, n_chars,
         -- id folded before the multiply: mirrors the operator's ANSI
         -- overflow guard (ids > ~3.47e9 would overflow the product)
         ((CAST(doc_id AS BIGINT) % 2147483647) * 2654435761) % 2147483647 AS hk
  FROM documents
), c AS (
  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
         -- CAST: DuckDB window sum(BIGINT) -> HUGEINT -> pandas float64
         CAST(sum(CAST(n_chars AS BIGINT)) OVER (PARTITION BY lang ORDER BY hk, doc_id
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_chars
  FROM h
)
SELECT doc_id, lang, n_chars, cum_chars FROM c WHERE cum_chars <= 20000
"""


def q93_sequence_packing(spark, sf_dir):
    """Sequence packing (concat-and-chunk, the pre-training batching
    step): docs laid end-to-end in Knuth-hash order, cut into 2048-char
    bins; each doc's (bin, offset) is pure integer arithmetic on the
    two-level exclusive-prefix cumsum — SQL replays the single-window
    equivalent exactly."""
    docs = _t(spark, sf_dir, "documents")
    return text.pack_sequences(docs, context_len=2048)


Q93_SQL = """
WITH h AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n,
         ((CAST(doc_id AS BIGINT) % 2147483647) * 2654435761) % 2147483647 AS hk
  FROM documents
), c AS (
  SELECT doc_id, n,
         CAST(coalesce(sum(n) OVER (ORDER BY hk, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
  FROM h
)
SELECT doc_id, s // 2048 AS bin_id, s % 2048 AS bin_offset, n FROM c
"""


def q74_pii_scrub(spark, sf_dir):
    """PII redaction gate: a deterministic email + IPv4 literal is
    injected per doc (both engines build the identical string), then the
    scrub chain rewrites and the per-class audit counts are emitted;
    the oracle applies the same regex chain with DuckDB's 'g'
    (replace-all) flag so outputs are byte-identical."""
    docs = _t(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@site.example.com or 10.0."),
            F.pmod(F.col("doc_id"), F.lit(256)).cast("string"), F.lit(".7 now"),
        ).alias("t"),
    )
    return injected.select(
        "doc_id",
        F.md5(text.pii_scrub(F.col("t"))).alias("scrub_fp"),
        *text.pii_counts(F.col("t")),
    )


Q74_SQL = r"""
WITH d AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@site.example.com or 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 now' AS t
  FROM documents
)
SELECT doc_id,
       md5(regexp_replace(
             regexp_replace(
               regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
             '\+?\d[\d ()-]{7,}\d', '<PHONE>', 'g')) AS scrub_fp,
       CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(t, '\b(\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ips
FROM d
"""


def q75_boilerplate_lines(spark, sf_dir):
    """Line-level boilerplate removal (CCNet/Trafilatura corpus step):
    two injected footer lines occur in 100% of docs (removed), one
    unique note line per doc survives; the oracle replays the
    line-frequency filter + ordered string_agg reassembly. Every 7th
    doc is ALL boilerplate (footer lines only) — such docs must still
    emit a row with clean_fp NULL and n_lines_kept 0 (ADVICE r4: the
    old kept-lines groupBy dropped them entirely)."""
    docs = _t(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.when(
            F.pmod(F.col("doc_id"), F.lit(7)) == 0,
            F.lit("Copyright 2026 Example Corp\nAll rights reserved"),
        ).otherwise(
            F.concat(
                F.col("text"),
                F.lit("\nCopyright 2026 Example Corp\nAll rights reserved\nunique-note-"),
                F.col("doc_id").cast("string"),
            )
        ).alias("text"),
    )
    out = text.remove_boilerplate_lines(injected, max_doc_frac=0.5)
    return out.select(
        "doc_id", F.md5("clean_text").alias("clean_fp"), "n_lines_kept", "n_lines_removed"
    )


Q75_SQL = """
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN 'Copyright 2026 Example Corp' || chr(10) || 'All rights reserved'
              ELSE text || chr(10) || 'Copyright 2026 Example Corp'
                        || chr(10) || 'All rights reserved'
                        || chr(10) || 'unique-note-' || CAST(doc_id AS VARCHAR)
         END AS t
  FROM documents
), sp AS (
  SELECT doc_id, string_split(t, chr(10)) AS ls FROM d
), ll AS (
  SELECT doc_id, unnest([{'pos': i, 'line': ls[i]} for i in range(1, len(ls) + 1)]) AS e
  FROM sp
), lines AS (
  SELECT doc_id, e.pos AS pos, e.line AS line FROM ll
), freq AS (
  SELECT line, count(DISTINCT doc_id) AS df FROM lines GROUP BY line
), n AS (
  SELECT count(*) AS n_docs FROM documents
), tagged AS (
  SELECT lines.*, freq.df FROM lines JOIN freq USING (line)
)
SELECT doc_id,
       md5(string_agg(CASE WHEN df <= 0.5 * (SELECT n_docs FROM n) THEN line END,
                      chr(10) ORDER BY pos)) AS clean_fp,
       CAST(sum(CASE WHEN df <= 0.5 * (SELECT n_docs FROM n) THEN 1 ELSE 0 END) AS BIGINT)
         AS n_lines_kept,
       CAST(sum(CASE WHEN df > 0.5 * (SELECT n_docs FROM n) THEN 1 ELSE 0 END) AS BIGINT)
         AS n_lines_removed
FROM tagged
GROUP BY doc_id
"""


def q81_bm25(spark, sf_dir):
    """BM25 term scoring over the corpus (retrieval/search scorer,
    Robertson k1=1.2 b=0.75): per-(doc, term) rows so every value is a
    single scalar expression — Spark F.log == DuckDB ln (libm), formula
    op-order mirrored term for term, round 6 with ~1e-15 drift."""
    docs = _t(spark, sf_dir, "documents")
    out = text.bm25_term_scores(docs, ["spark", "join", "vector"])
    return out.select(
        "doc_id", "tok", F.round("bm25", 6).alias("bm25"),
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        F.col("dl").cast("long").alias("dl"),
    )


Q81_SQL = r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
  FROM documents
), dl AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl
), tf AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks
  WHERE tok IN ('spark', 'join', 'vector') GROUP BY doc_id, tok
), dfreq AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok
)
SELECT tf.doc_id, tf.tok,
       round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
             * (tf * 2.2)
             / (tf + 1.2 * (0.25 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n_docs))),
             6) AS bm25,
       tf, df, dl
FROM tf JOIN dfreq USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats
"""


def q51_dedup_clusters(spark, sf_dir):
    """Fuzzy-dedup CLUSTERING: MinHash-LSH candidate pairs (bit-for-bit
    the q26 signatures, banded 2x2) -> connected components via
    alternating large-star/small-star (graph.py) -> every doc labeled
    with its cluster min + cluster size. The DuckDB oracle recomputes
    the same pairs as minhash-tuple equality per band and resolves
    components with a recursive min-label CTE — a full end-to-end check
    of the iterative DataFrame algorithm, not just one round."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < _JACCARD_LIMIT)
    pairs = dedup.minhash_lsh_candidates(
        docs, "doc_id", k=_JACCARD_K, n_hashes=_MINHASH_N, bands=2, seed=42
    )
    return graph.dedup_cluster_labels(docs, pairs)


# bands of 2 rows over the 4 q26 minhash columns of CTE `sig`: a pair is
# a candidate iff band 0 (mh_0, mh_1) or band 1 (mh_2, mh_3) matches
# exactly — identical to Spark's xxhash64-bucket equi-join modulo a
# 64-bit band-hash collision (which the value-hash gate would expose);
# `edges` lists each candidate pair in both directions
_BAND_EDGES_CTES = """pairs AS (
  SELECT DISTINCT a.doc_id AS s, b.doc_id AS d
  FROM sig a JOIN sig b
    ON a.doc_id < b.doc_id
   AND ((a.mh_0 = b.mh_0 AND a.mh_1 = b.mh_1)
     OR (a.mh_2 = b.mh_2 AND a.mh_3 = b.mh_3))
),
edges AS (SELECT s, d FROM pairs UNION ALL SELECT d, s FROM pairs)"""


def _q51_sql() -> str:
    return f"""
WITH RECURSIVE
sig AS (SELECT * FROM ({_minhash_sql()})),
{_BAND_EDGES_CTES},
walk(id, lab) AS (
  SELECT doc_id, doc_id FROM documents WHERE doc_id < {_JACCARD_LIMIT}
  UNION
  SELECT e.d, w.lab FROM walk w JOIN edges e ON e.s = w.id
),
comp AS (SELECT id AS doc_id, min(lab) AS cluster_id FROM walk GROUP BY id)
SELECT doc_id, cluster_id,
       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
FROM comp
"""


def q52_repetition_quality(spark, sf_dir):
    """Gopher-style repetition filters over all documents: most-frequent
    word / word-bigram counts and ppm fractions (pure-Catalyst explode +
    two map-side-combinable aggs, text.repetition_features). ppm uses
    floor((1e6 * top) / n) so both engines hit the same double before
    truncating — no round() half-way hazards."""
    docs = _t(spark, sf_dir, "documents")
    return text.repetition_features(docs)


Q52_SQL = r"""
WITH w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS l FROM documents
),
uc AS (
  SELECT doc_id, max(c) AS top_word_count FROM (
    SELECT doc_id, count(*) AS c
    FROM (SELECT doc_id, unnest(l) AS g FROM w) GROUP BY doc_id, g
  ) GROUP BY doc_id
),
bc AS (
  SELECT doc_id, max(c) AS top_bigram_count FROM (
    SELECT doc_id, count(*) AS c
    FROM (SELECT doc_id,
                 unnest([l[i] || ' ' || l[i + 1] for i in range(1, len(l))]) AS g
          FROM w) GROUP BY doc_id, g
  ) GROUP BY doc_id
)
SELECT w.doc_id,
       CAST(len(w.l) AS BIGINT) AS n_words,
       CAST(coalesce(uc.top_word_count, 0) AS BIGINT) AS top_word_count,
       CAST(coalesce(bc.top_bigram_count, 0) AS BIGINT) AS top_bigram_count,
       CAST(floor(1000000.0 * coalesce(uc.top_word_count, 0) / len(w.l)) AS BIGINT)
         AS top_word_ppm,
       CAST(floor(1000000.0 * coalesce(bc.top_bigram_count, 0) / len(w.l)) AS BIGINT)
         AS top_bigram_ppm
FROM w LEFT JOIN uc USING (doc_id) LEFT JOIN bc USING (doc_id)
"""


def q53_train_split(spark, sf_dir):
    """Deterministic hash-based train/val/test split (80/10/10): stable
    under re-partitioning and re-runs (pure function of doc_id via md5),
    the leakage-safe way to split at 100 TB. Gate output is the per
    (lang, split) histogram."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("lang", text.hash_split(F.col("doc_id")).alias("split"))
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


Q53_SQL = """
SELECT lang,
       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
       count(*) AS n_docs
FROM (
  SELECT lang,
         ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % 100 AS b
  FROM documents
)
GROUP BY 1, 2
"""


def q54_url_normalize(spark, sf_dir):
    """URL canonicalization + host extraction over a deterministic raw
    url synthesized from (source, doc_id) — messy casing, www., default
    port, trailing slash, tracking query, fragment — plus the per-host
    doc count. Pure-Catalyst regexp chain (text.normalize_url), every
    pattern single-match so the DuckDB twin is byte-identical."""
    docs = _t(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("HTTPS://WWW."),
        F.col("source"),
        F.lit(".Example.COM"),
        F.when(F.pmod(F.col("doc_id"), F.lit(3)) == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/p/"),
        F.col("doc_id").cast("string"),
        F.when(F.pmod(F.col("doc_id"), F.lit(4)) == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(F.pmod(F.col("doc_id"), F.lit(5)) == 0, F.lit("?utm_source=x")).otherwise(F.lit("")),
        F.when(F.pmod(F.col("doc_id"), F.lit(7)) == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    base = docs.select(
        "doc_id",
        text.normalize_url(raw).alias("url_norm"),
        text.url_host(raw).alias("host"),
    )
    w = Window.partitionBy("host")
    return base.withColumn("n_host_docs", F.count(F.lit(1)).over(w))


Q54_SQL = rf"""
WITH raw AS (
  SELECT doc_id,
         'HTTPS://WWW.' || source || '.Example.COM'
         || CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END
         || '/p/' || CAST(doc_id AS VARCHAR)
         || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
         || CASE WHEN doc_id % 5 = 0 THEN '?utm_source=x' ELSE '' END
         || CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END AS url
  FROM documents
), {_url_norm_ctes("doc_id")}
SELECT doc_id, url_norm, host,
       CAST(count(*) OVER (PARTITION BY host) AS BIGINT) AS n_host_docs
FROM norm
"""


def q56_curation_pipeline(spark, sf_dir):
    """End-to-end corpus curation — the composition a real training-data
    run executes, as ONE lazy DAG plus the CC driver loop:

      quality filter (n_words >= 25, top-word <= 150000 ppm)
        -> exact dedup (keep min doc_id per normalized-text fingerprint)
        -> near-dup clustering (MinHash-LSH pairs -> connected
           components), keep the cluster representative
        -> deterministic hash split
        -> per (split, lang) corpus counts.

    The DuckDB oracle replays every stage including the recursive-CTE
    component resolution, so the whole pipeline — not just each operator
    in isolation — is value-verified."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < _JACCARD_LIMIT)
    rep = text.repetition_features(docs)
    qual = rep.filter((F.col("n_words") >= 25) & (F.col("top_word_ppm") <= 150000)).select(
        "doc_id"
    )
    survivors = docs.join(qual, "doc_id")
    fp = survivors.withColumn("fp", text.fingerprint(F.col("text")))
    wfp = Window.partitionBy("fp")
    exact = (
        fp.withColumn("_mn", F.min("doc_id").over(wfp))
        .filter(F.col("doc_id") == F.col("_mn"))
        .drop("_mn", "fp")
    )
    pairs = dedup.minhash_lsh_candidates(
        exact, "doc_id", k=_JACCARD_K, n_hashes=_MINHASH_N, bands=2, seed=42
    )
    labels = graph.dedup_cluster_labels(exact, pairs)
    keep = labels.filter(F.col("doc_id") == F.col("cluster_id")).select("doc_id")
    final = keep.join(docs.select("doc_id", "lang"), "doc_id").select(
        "lang", text.hash_split(F.col("doc_id")).alias("split")
    )
    return final.groupBy("split", "lang").agg(F.count(F.lit(1)).alias("n_docs"))


def _q56_sql() -> str:
    sig_over_exact = _minhash_sql("ex JOIN documents USING (doc_id)")
    return rf"""
WITH RECURSIVE
docs0 AS (SELECT doc_id, text, lang FROM documents WHERE doc_id < {_JACCARD_LIMIT}),
wl AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS l FROM docs0),
uc AS (
  SELECT doc_id, max(c) AS twc FROM (
    SELECT doc_id, count(*) AS c
    FROM (SELECT doc_id, unnest(l) AS g FROM wl) GROUP BY doc_id, g
  ) GROUP BY doc_id
),
qual AS (
  SELECT wl.doc_id FROM wl JOIN uc USING (doc_id)
  WHERE len(l) >= 25 AND floor(1000000.0 * twc / len(l)) <= 150000
),
fp AS (
  SELECT d.doc_id, md5(regexp_replace(lower(trim(d.text)), '\s+', ' ', 'g')) AS f
  FROM docs0 d JOIN qual USING (doc_id)
),
ex AS (
  SELECT doc_id FROM (
    SELECT doc_id, min(doc_id) OVER (PARTITION BY f) AS mn FROM fp
  ) WHERE doc_id = mn
),
sig AS (SELECT * FROM ({sig_over_exact})),
{_BAND_EDGES_CTES},
walk(id, lab) AS (
  SELECT doc_id, doc_id FROM ex
  UNION
  SELECT e.d, w.lab FROM walk w JOIN edges e ON e.s = w.id
),
comp AS (SELECT id AS doc_id, min(lab) AS cluster_id FROM walk GROUP BY id),
keep AS (SELECT doc_id FROM comp WHERE doc_id = cluster_id),
final AS (
  SELECT d.lang,
         CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
  FROM (
    SELECT doc_id,
           ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % 100 AS b
    FROM keep
  ) JOIN docs0 d USING (doc_id)
)
SELECT split, lang, count(*) AS n_docs FROM final GROUP BY 1, 2
"""


def q59_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling: exactly 20 docs per lang,
    chosen by md5-hash order (stable under re-partitioning and re-runs,
    unlike rand()-based sampleBy) — how an over-represented language
    gets down-weighted reproducibly in corpus assembly. Window top-k per
    stratum; at scale the per-stratum heap (WindowGroupLimit) keeps it
    one shuffle, no global sort."""
    docs = _t(spark, sf_dir, "documents")
    h = dedup.hex_to_long(F.md5(F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", "lang")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .select("doc_id", "lang", F.col("rk").cast("long").alias("rk"))
    )


Q59_SQL = """
SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT, doc_id
         ) AS rk
  FROM documents
) WHERE rk <= 20
"""


def q60_vocabulary(spark, sf_dir):
    """Corpus vocabulary building: global word counts, top 50 by
    (count desc, word) with document frequency — the explode-heavy
    aggregation every tokenizer-training / corpus-stats pass runs. Two
    map-side-combinable shuffles on the word, then a 50-row window
    limit."""
    from pda_spark.session import spread

    docs = _t(spark, sf_dir, "documents")
    # spread the 2-split documents scan before the explode (r07 pattern)
    toks = spread(docs).select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w"),
    )
    counts = toks.groupBy("w").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    # distributed top-k (TakeOrderedAndProject) FIRST — a global
    # row_number over the full vocabulary would drag every word into one
    # partition; ranking only the 50 survivors is free
    top = counts.orderBy(F.col("n_occurrences").desc(), F.col("w").asc()).limit(50)
    win = Window.orderBy(F.col("n_occurrences").desc(), F.col("w").asc())
    return top.select(
        "w", "n_occurrences", "n_docs", F.row_number().over(win).cast("long").alias("rk")
    )


Q60_SQL = r"""
SELECT w, n_occurrences, n_docs, CAST(rk AS BIGINT) AS rk FROM (
  SELECT w, n_occurrences, n_docs,
         row_number() OVER (ORDER BY n_occurrences DESC, w) AS rk
  FROM (
    SELECT w, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
    FROM (
      SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
      FROM documents
    ) GROUP BY w
  )
) WHERE rk <= 50
"""


def q99_udtf_shingles(spark, sf_dir):
    """Native Python UDTF surface (SURVEY §2.10 — completes the
    UDF/UDAF/UDTF triad, VERDICT r5 #8): per-doc k-char shingles emitted
    by a REAL Spark 4 table function (``@udtf(useArrow=True)``, LATERAL
    join, ArrowEvalPythonUDTF plan node — pytest-asserted) instead of
    the explode idiom, then aggregated per doc. The UDTF's Python
    normalization mirrors ``dedup.char_shingles`` byte-for-byte (ASCII
    whitespace class — Java \\s == RE2 \\s ⊂ Python \\s), and the
    DuckDB oracle regenerates the shingles with substring arithmetic,
    gating all three implementations against each other."""
    from pda_spark.functions import udtfs

    docs = _t(spark, sf_dir, "documents").filter(
        (F.pmod(F.col("doc_id"), F.lit(11)) == 0) & F.col("text").isNotNull()
    )
    rows = udtfs.shingle_rows(docs, id_col="doc_id", text_col="text", k=6)
    return rows.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.countDistinct("shingle").alias("n_distinct"),
        F.min("shingle").alias("min_shingle"),
        F.max("shingle").alias("max_shingle"),
    )


Q99_SQL = r"""
WITH d AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS n
  FROM documents WHERE doc_id % 11 = 0 AND text IS NOT NULL
), sh AS (
  SELECT doc_id,
         unnest([substring(n, i, 6) for i in range(1, greatest(length(n) - 5, 1) + 1)]) AS shingle
  FROM d
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(count(DISTINCT shingle) AS BIGINT) AS n_distinct,
       min(shingle) AS min_shingle,
       max(shingle) AS max_shingle
FROM sh GROUP BY doc_id
"""


def q100_substring_containment(spark, sf_dir):
    """Exact substring-containment search (quotation / verbatim-overlap
    detection — the sharp twin of q71's shingle-overlap decontamination):
    snippets are 24-char cuts of every 13th doc's normalized text; find
    every document whose normalized text contains each snippet verbatim.
    Spark runs the rare-shingle inverted-index path
    (``dedup.substring_containment``: posting table + per-hash df, each
    snippet probes on its lowest-df shingle, one JVM ``instr`` verify
    per candidate); the oracle brute-forces ``strpos`` over the cross
    product — the scale path must reproduce the exhaustive semantics
    exactly. Self-matches and exact-duplicate docs both appear."""
    docs = _t(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    snips = (
        docs.filter(F.pmod(F.col("doc_id"), F.lit(13)) == 0)
        .select(F.col("doc_id").alias("snip_id"), norm.alias("_n"))
        .select(
            "snip_id",
            F.expr("substring(_n, 1 + CAST(snip_id % 16 AS INT), 24)").alias("stext"),
        )
        .filter(F.length("stext") == 24)
    )
    out = dedup.substring_containment(
        docs, snips, id_col="doc_id", text_col="text",
        snip_id_col="snip_id", snip_text_col="stext", k=8,
    )
    return out.select("snip_id", "doc_id")


Q100_SQL = r"""
WITH c AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS ctext
  FROM documents
), s AS (
  SELECT doc_id AS snip_id, substring(ctext, CAST(1 + doc_id % 16 AS INTEGER), 24) AS stext
  FROM c WHERE doc_id % 13 = 0
)
SELECT s.snip_id, c.doc_id
-- trim replays the operator's snippet normalization: a 24-char cut can
-- land on a boundary space, and substring_containment normalizes BOTH
-- sides (round-6 review: at sf0.1, 120 snippets carry boundary spaces
-- and the verbatim form diverged by one pair — 453 vs 452)
FROM s JOIN c ON strpos(c.ctext, trim(s.stext)) > 0
WHERE length(s.stext) = 24
"""


def q102_tfidf(spark, sf_dir):
    """TF-IDF feature extraction over the FULL vocabulary (sklearn
    smooth-idf form; the unscoped twin of q81's query-term BM25): one
    row per distinct (doc, term) with tf, df and
    tf * (ln((1+N)/(1+df)) + 1). Per-(doc, term) scalar rows — never a
    per-doc float sum — so the oracle replays the exact libm op order
    (the q81 rule); N is a broadcast one-row aggregate."""
    docs = _t(spark, sf_dir, "documents")
    out = text.tfidf_term_scores(docs, id_col="doc_id", text_col="text")
    return out.select(
        "doc_id", "tok",
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        F.round("tfidf", 6).alias("tfidf"),
    )


Q102_SQL = r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
  FROM documents
), tf AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY doc_id, tok
), dfreq AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok
), n AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
)
SELECT tf.doc_id, tf.tok, tf.tf, dfreq.df,
       round(tf.tf * (ln((1.0 + n_docs) / (1.0 + df)) + 1.0), 6) AS tfidf
FROM tf JOIN dfreq USING (tok) CROSS JOIN n
"""


def q103_winnowing(spark, sf_dir):
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken — the MOSS
    plagiarism-detection selector): hash every 5-shingle, slide a
    4-hash window, keep each window's MINIMUM hash, emit the distinct
    selected hashes per doc. Guarantees any shared substring of length
    >= k+w-1 = 8 shares a fingerprint at ~2/(w+1) density. Emitting
    distinct min VALUES (not positions) makes the result independent of
    tie-position conventions, so the oracle is a plain SQL window-min
    over the identical md5 hex-fold hashes."""
    docs = _t(spark, sf_dir, "documents").filter(F.pmod(F.col("doc_id"), F.lit(7)) == 0)
    return dedup.winnow_fingerprints(
        docs, id_col="doc_id", text_col="text", k=5, w=4, hasher="md5"
    )


Q103_SQL = r"""
WITH d AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS n
  FROM documents WHERE doc_id % 7 = 0
), idx AS (
  SELECT doc_id, n, greatest(length(n) - 4, 1) AS m,
         unnest(range(1, greatest(length(n) - 4, 1) + 1)) AS i
  FROM d
), sh AS (
  SELECT doc_id, m, i - 1 AS pos,
         ('0x' || substring(md5(substring(n, i, 5)), 1, 12))::BIGINT AS h
  FROM idx
), wmin AS (
  SELECT doc_id, m, pos,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS minh
  FROM sh
)
SELECT DISTINCT doc_id, minh FROM wmin WHERE pos <= m - 4 OR pos = 0
"""


def q107_edit_distance(spark, sf_dir):
    """Edit-distance near-duplicate pairs (fuzzy string matching as a
    JOIN): derived key strings 'k' || (c_custkey*7 % 100000) have varied
    lengths 2-6, so the lossless length-band blocking in
    dedup.edit_distance_pairs actually spreads candidates over bands;
    the verify is the JVM levenshtein expression; salt_bands=4 runs the
    hot-band salted plan (numeric keys concentrate in one length band —
    the realistic skew), which must emit the identical pair set. The
    oracle brute-forces the cross product — the blocked+salted path must
    reproduce the exhaustive semantics exactly (DuckDB and Spark
    levenshtein are the same textbook unit-cost edit distance). The %7
    sample keeps the oracle's n^2 and the hot band bounded at sf0.1."""
    c = _t(spark, sf_dir, "customer").filter(F.pmod(F.col("c_custkey"), F.lit(7)) == 0)
    strs = c.select(
        F.col("c_custkey").alias("sid"),
        F.concat(F.lit("k"), F.pmod(F.col("c_custkey") * 7, F.lit(100000)).cast("string")).alias("s"),
    )
    pairs = dedup.edit_distance_pairs(strs, id_col="sid", str_col="s", max_dist=1, salt_bands=4)
    return pairs.select("id_a", "id_b", "s_a", "s_b", "dist")


Q107_SQL = """
WITH s AS (
  SELECT c_custkey AS sid, 'k' || CAST((c_custkey * 7) % 100000 AS VARCHAR) AS s
  FROM customer WHERE c_custkey % 7 = 0
)
SELECT a.sid AS id_a, b.sid AS id_b, a.s AS s_a, b.s AS s_b,
       CAST(levenshtein(a.s, b.s) AS INTEGER) AS dist
FROM s a JOIN s b ON a.sid < b.sid AND levenshtein(a.s, b.s) <= 1
"""


def q110_paragraph_dedup(spark, sf_dir):
    """Global first-occurrence paragraph dedup (RefinedWeb/C4-family
    corpus step): every 5th doc gets a shared promo paragraph appended
    and every 11th doc REPEATS its own first line, so the fixture
    exercises cross-doc dedup (only the lowest (doc_id, pos) keeps the
    promo), within-doc repeats, and the line kept-in-first-doc rule.
    The oracle replays the min-owner rule with a row_number window —
    a different mechanism than Spark's min(struct) aggregate."""
    docs = _t(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.pmod(F.col("doc_id"), F.lit(11)) == 0,
                F.concat(F.lit("\n"), F.substring_index(F.col("text"), "\n", 1)),
            ).otherwise(F.lit("")),
            F.when(
                F.pmod(F.col("doc_id"), F.lit(5)) == 0,
                F.lit("\nSubscribe to our newsletter today"),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    out = dedup.dedup_paragraphs_global(injected)
    return out.select(
        "doc_id", F.md5("clean_text").alias("clean_fp"), "n_kept", "n_removed"
    )


Q110_SQL = """
WITH d AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 11 = 0
                 THEN chr(10) || string_split(text, chr(10))[1] ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN chr(10) || 'Subscribe to our newsletter today' ELSE '' END
           AS t
  FROM documents
), sp AS (
  SELECT doc_id, string_split(t, chr(10)) AS ls FROM d
), ll AS (
  SELECT doc_id, unnest([{'pos': i - 1, 'para': ls[i]} for i in range(1, len(ls) + 1)]) AS e
  FROM sp
), paras AS (
  SELECT doc_id, e.pos AS pos, e.para AS para FROM ll
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
  FROM paras
)
SELECT doc_id,
       md5(string_agg(CASE WHEN rn = 1 THEN para END, chr(10) ORDER BY pos)) AS clean_fp,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS BIGINT) AS n_removed
FROM ranked
GROUP BY doc_id
"""


def q112_inverted_index(spark, sf_dir):
    """Positional inverted index over the documents corpus (the
    retrieval-side counterpart of q102 TF-IDF / q81 BM25): per-(term,
    doc) posting rows with tf, df, and the ordered token-position list.
    The oracle replays tokenization (regexp split, empty-token filter)
    and rebuilds positions with a list comprehension + ordered
    string_agg — the q75 reassembly idiom, here over token offsets."""
    docs = _t(spark, sf_dir, "documents")
    out = text.inverted_index(docs)
    # sample the term space to keep the gate row count civil
    return out.filter(F.length("term") >= 6)


Q112_SQL = r"""
WITH toks AS (
  SELECT doc_id, ls FROM (
    SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS ls FROM documents
  )
), tl AS (
  SELECT doc_id, unnest([{'pos': i - 1, 'term': ls[i]} for i in range(1, len(ls) + 1)]) AS e
  FROM toks
), t AS (
  SELECT doc_id, e.pos AS pos, e.term AS term FROM tl WHERE e.term <> ''
), postings AS (
  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf,
         string_agg(CAST(pos AS VARCHAR), ',' ORDER BY pos) AS positions
  FROM t GROUP BY term, doc_id
), dfs AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM postings GROUP BY term
)
SELECT p.term, p.doc_id, p.tf, d.df, p.positions
FROM postings p JOIN dfs d USING (term)
WHERE length(p.term) >= 6
"""


def q118_cooccurrence(spark, sf_dir):
    """Term co-occurrence matrix with integer-ratio df/pair thresholds
    (PMI count side): per-doc distinct term sets, df floor 5 with no
    ceiling (this corpus has a 31-term vocabulary — the df-cap
    parameter is exercised by pytest), pairs kept when they co-occur in
    >= 60% of docs (n_ab * 5 >= 3 * N — SF-robust, exact, and the
    filter provably bites: 427 of 465 raw pairs survive at sf0.01)."""
    docs = _t(spark, sf_dir, "documents")
    return text.term_cooccurrence(
        docs, min_df=5, max_df_num=1, max_df_den=1, min_pair_num=3, min_pair_den=5
    )


Q118_SQL = r"""
WITH toks AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
    FROM documents)
), dfreq AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM toks GROUP BY tok
), n AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
), kept AS (
  SELECT tok, df FROM dfreq CROSS JOIN n WHERE df >= 5 AND df * 1 <= 1 * n_docs
), t AS (
  SELECT toks.doc_id, toks.tok FROM toks JOIN kept USING (tok)
), p AS (
  SELECT a.tok AS term_a, b.tok AS term_b, CAST(count(*) AS BIGINT) AS n_ab
  FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.tok < b.tok
  GROUP BY 1, 2
)
SELECT term_a, term_b, n_ab, ka.df AS df_a, kb.df AS df_b
FROM p CROSS JOIN n
JOIN kept ka ON ka.tok = p.term_a
JOIN kept kb ON kb.tok = p.term_b
WHERE n_ab * 5 >= 3 * n_docs
"""


def q120_lm_coverage(spark, sf_dir):
    """Unigram-OOV + bigram-coverage stats per held-out doc against the
    md5-hash train split (the count-based perplexity proxy; q53's split,
    q72's integer-counts-only discipline). Vocabulary admits tokens
    with df >= 10% of train docs (integer ratio, SF-robust): the
    corpus's one rare token ('dup', ~5% df at every SF) drops out, so
    the OOV counter is provably exercised alongside n_bg_unseen."""
    docs = _t(spark, sf_dir, "documents")
    return text.lm_coverage(docs, min_df=1, min_df_num=1, min_df_den=10, train_pct=80)


Q120_SQL = r"""
WITH d AS (
  SELECT doc_id,
         string_split_regex(lower(trim(text)), '\s+') AS toks,
         ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % 100 < 80
           AS is_train
  FROM documents
), tr_tok AS (
  SELECT DISTINCT doc_id, unnest(toks) AS tok FROM d WHERE is_train
), ntr AS (
  SELECT CAST(count(*) AS BIGINT) AS n_train FROM d WHERE is_train
), vocab AS (
  SELECT tok, 1 AS inv FROM tr_tok CROSS JOIN ntr
  GROUP BY tok, n_train
  HAVING count(*) >= 1 AND count(*) * 10 >= 1 * n_train
), tr_bg AS (
  SELECT DISTINCT toks[i] AS w1, toks[i + 1] AS w2, 1 AS seen
  FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
        FROM d WHERE is_train)
), ho_tok AS (
  SELECT doc_id, unnest(toks) AS tok FROM d WHERE NOT is_train
), uni AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_tok,
         CAST(sum(CASE WHEN v.inv IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
  FROM ho_tok LEFT JOIN vocab v USING (tok)
  GROUP BY doc_id
), ho_bg AS (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
        FROM d WHERE NOT is_train)
), bg AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(CASE WHEN t.seen IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_bg_unseen
  FROM ho_bg LEFT JOIN tr_bg t USING (w1, w2)
  GROUP BY doc_id
)
SELECT uni.doc_id, n_tok, n_oov,
       coalesce(n_bigrams, 0) AS n_bigrams,
       coalesce(n_bg_unseen, 0) AS n_bg_unseen
FROM uni LEFT JOIN bg USING (doc_id)
"""


def q135_simhash_pairs(spark, sf_dir):
    """Hamming-radius near-dup join (Manku et al. WWW'07): all document
    pairs whose 16-bit SimHash fingerprints differ in <= 3 bits, found
    by pigeonhole banding (4 bands — 3 flipped bits can't touch all 4,
    so near pairs agree exactly on >= 1 band) + exact bit_count(xor)
    verify BEFORE the pair-dedup shuffle (the q107 discipline). The
    oracle is the O(n^2) brute-force pair scan — a genuinely different
    algorithm, so the banding's completeness is what's being checked."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < _JACCARD_LIMIT)
    return dedup.simhash_neardup_pairs(
        docs, "doc_id", n_bits=_SIMHASH_BITS, max_hamming=3, n_bands=4
    )


Q135_SQL = f"""
WITH sigs AS ({_simhash_sql()})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def q144_chunk_text(spark, sf_dir):
    """RAG-style document chunking (200-char windows, 40 overlap):
    sequence-explode + substring, pure Catalyst, shuffle-free
    (text.chunk_text). Chunk content gates through md5 + length so the
    compare stays light while still pinning every byte."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    ch = text.chunk_text(docs, chunk_chars=200, overlap=40)
    return ch.select(
        "doc_id",
        "chunk_idx",
        F.length("chunk").alias("chunk_len"),
        F.md5("chunk").alias("chunk_hash"),
    )


Q144_SQL = """
WITH docs AS (
  SELECT doc_id, text, length(text) AS ln FROM documents WHERE doc_id < 300
), n AS (
  SELECT doc_id, text, greatest((ln - 40 + 159) // 160, 1) AS n_chunks FROM docs
), idx AS (
  SELECT doc_id, text, unnest(generate_series(0, n_chunks - 1)) AS chunk_idx FROM n
)
SELECT doc_id, chunk_idx::BIGINT AS chunk_idx,
       CAST(length(substring(text, 1 + chunk_idx * 160, 200)) AS INTEGER) AS chunk_len,
       md5(substring(text, 1 + chunk_idx * 160, 200)) AS chunk_hash
FROM idx
"""


def q145_url_keep_best(spark, sf_dir):
    """Canonical-URL keep-best dedup (the step AFTER q54's
    normalization in a web-corpus pipeline): four raw-URL variants per
    canonical page (path = doc_id div 4; per-doc messy casing/port/
    slash/tracking/fragment noise), keep the longest document per
    canonical URL with a doc_id tiebreak (dedup.dedup_keep_best)."""
    docs = _t(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("HTTPS://WWW."),
        F.col("source"),
        F.lit(".Example.COM"),
        F.when(F.pmod(F.col("doc_id"), F.lit(3)) == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/p/"),
        F.expr("CAST(doc_id div 4 AS STRING)"),
        F.when(F.pmod(F.col("doc_id"), F.lit(4)) == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(F.pmod(F.col("doc_id"), F.lit(5)) == 0, F.lit("?utm_source=x")).otherwise(F.lit("")),
        F.when(F.pmod(F.col("doc_id"), F.lit(7)) == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    base = docs.select(
        "doc_id", "n_chars", text.normalize_url(raw).alias("url")
    )
    best = dedup.dedup_keep_best(
        base, ["url"], [F.col("n_chars").desc(), F.col("doc_id").asc()]
    )
    return best.select("url", "doc_id", "n_chars")


Q145_SQL = rf"""
WITH raw AS (
  SELECT doc_id, n_chars,
         'HTTPS://WWW.' || source || '.Example.COM'
         || CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END
         || '/p/' || CAST(doc_id // 4 AS VARCHAR)
         || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
         || CASE WHEN doc_id % 5 = 0 THEN '?utm_source=x' ELSE '' END
         || CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END AS url
  FROM documents
), {_url_norm_ctes("doc_id, n_chars")}
SELECT url, doc_id, n_chars FROM (
  SELECT doc_id, n_chars, url_norm AS url,
         row_number() OVER (PARTITION BY url_norm ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM norm
) WHERE rn = 1
"""


def q147_jaccard_prefix_join(spark, sf_dir):
    """Exact set-similarity self-join via PREFIX FILTERING (AllPairs /
    PPJoin; Bayardo WWW'07): every doc pair with word-3-gram Jaccard
    >= 1/2, candidates generated ONLY from each doc's globally-rarest
    prefix tokens. The oracle is the brute-force all-shingle join —
    prefix-filter COMPLETENESS is the thing under test (the q135/q146
    blocking discipline). Threshold is the rational 1/2 so every
    compare is integer; doc_id < 1000 keeps the O(n^2)-ish oracle
    SF-stable."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    return dedup.jaccard_join_prefix(
        docs, "doc_id", "text", threshold_num=1, threshold_den=2, shingle_words=3
    )


Q147_SQL = r"""
WITH w AS (
  SELECT doc_id, [t for t in regexp_split_to_array(lower(text), '[^a-z0-9]+') if t <> ''] AS ws
  FROM documents WHERE doc_id < 1000
), tok AS (
  SELECT doc_id, unnest(list_distinct(
    [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, greatest(len(ws)-2,0)+1)]
  )) AS tok FROM w
), sizes AS (SELECT doc_id, count(*) AS s FROM tok GROUP BY 1),
pairs AS (
  SELECT a.doc_id ia, b.doc_id ib, count(*) AS inter
  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id GROUP BY 1, 2
)
SELECT ia AS id_a, ib AS id_b, CAST(inter AS BIGINT) AS inter,
       CAST(sa.s + sb.s - inter AS BIGINT) AS uni,
       round(inter / (sa.s + sb.s - inter), 6) AS jaccard
FROM pairs JOIN sizes sa ON sa.doc_id = ia JOIN sizes sb ON sb.doc_id = ib
WHERE 2 * inter >= (sa.s + sb.s - inter)
"""


def q155_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood blocking pairs over customer balances
    (window 3): the sliding-window candidate generator of classic
    record linkage. The engine computes the global sort rank WITHOUT a
    single-task window (range partition + parallel per-partition
    row_numbers + broadcast prefix offsets — ``dedup.global_rank``);
    the oracle IS the single-window row_number formulation — rank
    parity between the two is the thing under test."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", F.floor(F.col("c_acctbal") * 100).alias("cents")
    )
    return dedup.sorted_neighborhood_pairs(
        cust, "c_custkey", ["cents"], window=3
    )


Q155_SQL = """
WITH r AS (
  SELECT c_custkey AS id,
         row_number() OVER (ORDER BY floor(c_acctbal * 100), c_custkey) AS rk
  FROM customer
)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(a.rk AS BIGINT) AS rank_a, CAST(b.rk AS BIGINT) AS rank_b
FROM r a JOIN r b ON b.rk - a.rk BETWEEN 1 AND 3
"""


# Ranked BPE merge table (trained offline; rank order matters — later
# rules consume earlier rules' outputs)
_BPE_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("in", "g"), ("a", "n"),
    ("an", "d"), ("e", "r"), ("o", "n"), ("r", "e"), ("a", "t"),
    ("e", "n"), ("o", "r"), ("e", "s"), ("t", "i"), ("o", "u"),
    ("a", "l"), ("s", "t"), ("o", "f"), ("e", "d"), ("a", "r"),
]


def q163_bpe_tokenize(spark, sf_dir):
    """Ranked-greedy-merge subword tokenization (the BPE encode pass as
    a pure Catalyst replace chain): per-doc word/token/char counts
    under the fixed 20-rule merge table. Both engines share replace()'s
    non-overlapping left-to-right semantics, so the oracle replays the
    identical merge pass."""
    docs = _t(spark, sf_dir, "documents")
    return text.bpe_merge_tokenize(docs, _BPE_MERGES)


def _bpe_sql(merges=None) -> str:
    merges = merges if merges is not None else _BPE_MERGES
    # sentinel-space delimiting (the engine's boundary-safe form):
    # ' a b c ' with rules matching ' l r ' including both delimiters
    expr = r"' ' || regexp_replace(w, '(.)', '\1 ', 'g')"
    for left, right in merges:
        expr = f"replace({expr}, ' {left} {right} ', ' {left}{right} ')"
    expr = f"trim({expr})"
    return f"""
WITH w AS (
  SELECT doc_id,
         unnest([t for t in regexp_split_to_array(lower(text), '[^a-z0-9]+') if t <> '']) AS w
  FROM documents
), t AS (
  SELECT doc_id, len(string_split({expr}, ' ')) AS nt, length(w) AS nc FROM w
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(nt) AS BIGINT) AS n_tokens,
       CAST(sum(nc) AS BIGINT) AS n_chars
FROM t GROUP BY doc_id
"""


def q180_feature_hash(spark, sf_dir):
    """Hashing-trick featurization of documents (dim 256, md5 fold):
    sparse (doc, feature_idx, count) rows with exact occurrence
    counts — the no-vocabulary streaming featurizer."""
    from pda_spark.functions import profiling

    docs = _t(spark, sf_dir, "documents")
    return profiling.feature_hash(docs, "doc_id", "text", dim=256)


Q180_SQL = """
WITH w AS (
  SELECT doc_id,
         unnest([t for t in regexp_split_to_array(lower(text), '[^a-z0-9]+') if t <> '']) AS w
  FROM documents
)
SELECT doc_id, ('0x' || substring(md5(w), 1, 12))::BIGINT % 256 AS feature_idx,
       CAST(count(*) AS BIGINT) AS count
FROM w GROUP BY 1, 2
"""


def q181_vocab_growth(spark, sf_dir):
    """Vocabulary growth curve (the Heaps-law measurement): per doc in
    id order, the number of word types FIRST SEEN in that doc and the
    cumulative type count. First-seen attribution is one grouped min
    over (token -> doc); the cumulative sum runs on
    ``dedup.global_cumsum`` — the distributed prefix-sum (range
    partition + parallel windows + broadcast offsets), NEVER a
    single-task global window; the oracle is the single-window
    formulation, prefix-sum parity is the test (the q155 discipline
    generalized from ranks to sums)."""
    docs = _t(spark, sf_dir, "documents")
    words = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != ""
    )
    tok = docs.select("doc_id", F.explode(F.array_distinct(words)).alias("w"))
    first_seen = tok.groupBy("w").agg(F.min("doc_id").alias("doc_id"))
    per_doc = first_seen.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_new")
    )
    # every doc gets a row (zero new types is a real measurement)
    spine = docs.select("doc_id").distinct()
    filled = spine.join(per_doc, "doc_id", "left").select(
        "doc_id", F.coalesce("n_new", F.lit(0)).alias("n_new")
    )
    return dedup.global_cumsum(filled, ["doc_id"], "n_new", out_col="cum_types")


Q181_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(
    [t for t in regexp_split_to_array(lower(text), '[^a-z0-9]+') if t <> '']
  )) AS w
  FROM documents
), fs AS (
  SELECT w, min(doc_id) AS doc_id FROM tok GROUP BY w
), per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_new FROM fs GROUP BY doc_id
), filled AS (
  SELECT d.doc_id, coalesce(p.n_new, 0) AS n_new
  FROM (SELECT DISTINCT doc_id FROM documents) d
  LEFT JOIN per_doc p USING (doc_id)
)
SELECT doc_id, CAST(n_new AS BIGINT) AS n_new,
       CAST(sum(n_new) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_types
FROM filled
"""
