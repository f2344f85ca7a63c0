"""Cross-engine oracles for operators and variants that no
``__spark_entry__.CATALOG`` row builds (VERDICT r2: chunking/packing,
int8 quantization, leakage-safe group split, streaming exact dedup,
corpus shard layout, intra-doc paragraph dedup, and every operator
added since).  Run through ``tools/check_oracles.py`` (after the
catalog rows) so ONE command regression-checks every oracle.

Each check runs the Spark operator and an independent DuckDB (or
Spark-batch) re-implementation on the same testdata and compares the
full value multiset — same comparison the catalog rows use, minus the
column-type check.
"""

from __future__ import annotations

import shutil
import tempfile

from check_oracles import load_entry
from pyspark.sql import functions as F

CHUNK, OVERLAP = 64, 16
STRIDE = CHUNK - OVERLAP
BUDGET, MAXDOC = 512, 64
SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}
N_SHARDS = 8

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_NTOK = (
    "CASE WHEN length(norm) = 0 THEN 0 "
    "ELSE len(string_split(norm, ' ')) END"
)


def _docs(spark, sf_dir):
    from qualityassurancetool_spark.schema import load_table

    return load_table(spark, sf_dir, "documents")


def x_chunking(spark, con, sf_dir):
    """chunk_documents vs a DuckDB token-window re-implementation."""
    from qualityassurancetool_spark.operators.chunking import chunk_documents

    sdf = chunk_documents(
        _docs(spark, sf_dir), chunk_tokens=CHUNK, overlap_tokens=OVERLAP
    )
    sql = f"""
WITH base AS (
    SELECT doc_id, {_NORM} AS norm FROM documents
), toks AS (
    SELECT doc_id, string_split(norm, ' ') AS t, {_NTOK} AS n FROM base
), idx AS (
    SELECT doc_id, t, n,
           unnest(generate_series(0,
               CAST(1 + ceil(greatest(n - {CHUNK}, 0) / {STRIDE}) AS INT) - 1
           )) AS chunk_idx
    FROM toks
)
SELECT doc_id, chunk_idx,
       array_to_string(list_slice(t, chunk_idx * {STRIDE} + 1,
           chunk_idx * {STRIDE} + least({CHUNK}, n - chunk_idx * {STRIDE})),
           ' ') AS chunk_text,
       CAST(least({CHUNK}, n - chunk_idx * {STRIDE}) AS INT)
           AS n_chunk_tokens
FROM idx
"""
    return sdf, sql


def x_packing(spark, con, sf_dir):
    """pack_documents (running-total bucket, hard cap via headroom) vs a
    DuckDB window re-implementation, partitioned by lang."""
    from qualityassurancetool_spark.functions.hashing import normalize_text
    from qualityassurancetool_spark.operators.chunking import pack_documents

    d = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        F.least(
            F.when(
                F.length(normalize_text(F.col("text"))) == 0, F.lit(0)
            ).otherwise(F.size(F.split(normalize_text(F.col("text")), " "))),
            F.lit(MAXDOC),
        ).alias("n_tokens"),
    )
    sdf = pack_documents(
        d,
        budget_tokens=BUDGET,
        partition_cols=["lang"],
        max_doc_tokens=MAXDOC,
    ).select(
        "doc_id", "lang", "n_tokens",
        F.col("pack_id").cast("long").alias("pack_id"),
    )
    eff = BUDGET - MAXDOC
    sql = f"""
WITH d AS (
    SELECT doc_id, lang,
           least({_NTOK}, {MAXDOC}) AS n_tokens
    FROM (SELECT doc_id, lang, {_NORM} AS norm FROM documents)
), b AS (
    SELECT *, floor(COALESCE(SUM(n_tokens) OVER (
        PARTITION BY lang ORDER BY doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        / {eff}) AS bucket
    FROM d
)
SELECT doc_id, lang, n_tokens,
       DENSE_RANK() OVER (PARTITION BY lang ORDER BY bucket) - 1 AS pack_id
FROM b
"""
    return sdf, sql


def x_quantize_int8(spark, con, sf_dir):
    """Symmetric int8 quantization vs DuckDB list arithmetic (same
    round-half-away-from-zero semantics, probed in tests)."""
    from qualityassurancetool_spark.operators.similarity import quantize_int8
    from qualityassurancetool_spark.schema import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    sdf = quantize_int8(emb).select("vec_id", "qscale", "qvec")
    sql = """
WITH s AS (
    SELECT vec_id, embedding,
           list_max(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE)))) AS amax
    FROM embeddings
)
SELECT vec_id,
       CASE WHEN amax > 0 THEN amax / 127.0 ELSE 0.0 END AS qscale,
       list_transform(embedding, x -> CAST(
           CASE WHEN amax > 0
                THEN round(CAST(x AS DOUBLE) / (amax / 127.0))
                ELSE 0.0 END AS TINYINT)) AS qvec
FROM s
"""
    return sdf, sql


def x_group_split(spark, con, sf_dir):
    """Leakage-safe group split vs the md5 CASE chain in DuckDB (same
    float cut arithmetic, same salt)."""
    from qualityassurancetool_spark.operators.sampling import (
        split_by_group,
        uniform_hash_sql,
    )

    sdf = split_by_group(
        _docs(spark, sf_dir).select("doc_id", "source"),
        SPLITS,
        group_col="source",
    )
    u = uniform_hash_sql("CAST(source AS VARCHAR)", "split:")
    names = list(SPLITS)
    acc, cuts = 0.0, []
    for name in names:
        acc += float(SPLITS[name])
        cuts.append((name, acc))
    case = f"'{names[-1]}'"
    for name, hi in reversed(cuts):
        case = f"CASE WHEN {u} < {hi!r} THEN '{name}' ELSE {case} END"
    sql = f"SELECT doc_id, source, {case} AS split FROM documents"
    return sdf, sql


def x_dedup_paragraphs(spark, con, sf_dir):
    """Intra-doc first-seen paragraph dedup vs a DuckDB
    unnest+ordinality re-implementation, on doubled documents (so every
    doc has guaranteed repeats)."""
    from qualityassurancetool_spark.operators.quality_filters import (
        dedup_paragraphs,
    )

    doubled = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat_ws("\n\n", F.col("text"), F.col("text")).alias("text"),
    )
    sdf = doubled.select(
        "doc_id", dedup_paragraphs(F.col("text")).alias("deduped")
    )
    sql = """
WITH t AS (
    SELECT doc_id, concat(text, '\n\n', text) AS txt FROM documents
), e AS (
    SELECT doc_id,
           unnest(string_split(txt, '\n\n')) AS para,
           generate_subscripts(string_split(txt, '\n\n'), 1) AS ord
    FROM t
), firsts AS (
    SELECT doc_id, para, min(ord) AS first_ord
    FROM e GROUP BY doc_id, para
)
SELECT doc_id,
       string_agg(para, e'\n\n' ORDER BY first_ord) AS deduped
FROM firsts GROUP BY doc_id
"""
    return sdf, sql


def x_shard_layout(spark, con, sf_dir):
    """write_corpus_shards round trip: the written partition directories
    must contain exactly the DuckDB-recomputed (doc_id, lang, shard)
    membership."""
    from qualityassurancetool_spark.operators.sampling import uniform_hash_sql
    from qualityassurancetool_spark.sources.layout import write_corpus_shards

    tmp = tempfile.mkdtemp(prefix="qat_shards_")
    try:
        write_corpus_shards(
            _docs(spark, sf_dir).select("doc_id", "lang", "text"),
            tmp,
            n_shards=N_SHARDS,
        )
        back = spark.read.parquet(tmp).select(
            "doc_id", F.col("lang").cast("string"),
            F.col("shard").cast("int"),
        )
        rows = [tuple(r) for r in back.collect()]
        u = uniform_hash_sql("doc_id", "shard:")
        duck = con.execute(
            f"SELECT doc_id, lang, CAST(floor({u} * {N_SHARDS}.0) AS INT) "
            "AS shard FROM documents"
        ).fetchall()
        return rows, duck
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def x_streaming_dedup(spark, con, sf_dir):
    """Streaming exact dedup (availableNow over a landed parquet source)
    keeps exactly one representative per content digest: the surviving
    digest set must equal DuckDB's DISTINCT md5(normalized text)."""
    from qualityassurancetool_spark.streaming.micro_batch import (
        streaming_exact_dedup,
    )

    tmp = tempfile.mkdtemp(prefix="qat_stream_")
    try:
        src = f"{tmp}/src"
        static = _docs(spark, sf_dir).select(
            "doc_id",
            "text",
            F.timestamp_seconds(
                F.lit(1_700_000_000) + F.col("doc_id") % 3600
            ).alias("ingest_ts"),
        )
        static.write.parquet(src)
        stream = (
            spark.readStream.schema(static.schema).parquet(src)
        )
        deduped = streaming_exact_dedup(stream)
        q = (
            deduped.writeStream.format("memory")
            .queryName("x_stream_dedup")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        digests = [
            (r["content_hash"],)
            for r in spark.table("x_stream_dedup")
            .select("content_hash")
            .collect()
        ]
        duck = con.execute(
            f"SELECT DISTINCT md5({_NORM}) FROM documents"
        ).fetchall()
        return digests, duck
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


VOCAB_K = 200
LM_TOP = 100_000
MIX_WEIGHTS = {"en": 1.4, "other": 0.6}


def x_tfidf(spark, con, sf_dir):
    """TF-IDF term weighting vs DuckDB (same smoothed-idf formula) over
    the full documents table — promotes the pytest fixture oracle into
    the one-command harness at testdata scale."""
    from qualityassurancetool_spark.operators.tfidf import tfidf

    sdf = tfidf(_docs(spark, sf_dir)).select(
        "doc_id", "term", "tf", "df", F.round("tfidf", 6).alias("tfidf_r")
    )
    sql = f"""
WITH tf AS (
    SELECT doc_id, t.term, COUNT(*) AS tf
    FROM (SELECT doc_id, {_NORM} AS norm FROM documents),
         UNNEST(string_split(norm, ' ')) AS t(term)
    WHERE t.term <> ''
    GROUP BY doc_id, t.term
), df AS (
    SELECT term, COUNT(*) AS df FROM tf GROUP BY term
)
SELECT tf.doc_id, tf.term, tf.tf, df.df,
       round(tf.tf * (ln((SELECT COUNT(*) + 1 FROM documents)::DOUBLE
                      / (df.df + 1)) + 1), 6) AS tfidf_r
FROM tf JOIN df USING (term)
"""
    return sdf, sql


def x_incremental_dedup(spark, con, sf_dir):
    """dedup_against_corpus (cross-snapshot anti join + within-batch
    min-id collapse) vs the same logic in DuckDB; the 'seen' snapshot is
    every third document's digest."""
    from qualityassurancetool_spark.operators.dedup import (
        dedup_against_corpus,
        exact_dedup,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    seen = exact_dedup(docs.where(F.col("doc_id") % 3 == 0)).select(
        "content_hash"
    )
    sdf = dedup_against_corpus(docs, seen).select("doc_id", "content_hash")
    sql = f"""
WITH newd AS (
    SELECT doc_id, md5({_NORM}) AS content_hash FROM documents
),
seen AS (
    SELECT DISTINCT content_hash FROM newd WHERE doc_id % 3 = 0
),
fresh AS (
    SELECT n.doc_id, n.content_hash
    FROM newd n LEFT JOIN seen s USING (content_hash)
    WHERE s.content_hash IS NULL
)
SELECT doc_id, content_hash FROM fresh
QUALIFY doc_id = min(doc_id) OVER (PARTITION BY content_hash)
"""
    return sdf, sql


def x_vocab(spark, con, sf_dir):
    """token_vocabulary (top-k + rank + cumulative coverage) vs a DuckDB
    window re-implementation with the same tie-break."""
    from qualityassurancetool_spark.operators.vocab import token_vocabulary

    sdf = token_vocabulary(_docs(spark, sf_dir), top_k=VOCAB_K)
    sql = f"""
WITH base AS (SELECT {_NORM} AS norm FROM documents),
tok AS (SELECT unnest(string_split(norm, ' ')) AS token FROM base),
counts AS (
    SELECT token, COUNT(*) AS n FROM tok
    WHERE length(token) > 0 GROUP BY token
),
total AS (SELECT CAST(SUM(n) AS DOUBLE) AS t FROM counts),
top AS (SELECT token, n FROM counts ORDER BY n DESC, token LIMIT {VOCAB_K})
SELECT token, n,
       CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) AS INT) AS rank,
       SUM(n) OVER (ORDER BY n DESC, token
                    ROWS UNBOUNDED PRECEDING) / (SELECT t FROM total)
           AS coverage
FROM top
"""
    return sdf, sql


def x_mixing(spark, con, sf_dir):
    """mix_corpora epochs + fractional hash-sampling + mix_key vs the
    same md5 arithmetic in DuckDB."""
    from qualityassurancetool_spark.operators.mixing import mix_corpora
    from qualityassurancetool_spark.operators.sampling import uniform_hash_sql

    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    sources = {
        "en": docs.where(F.col("lang") == "en"),
        "other": docs.where(F.col("lang") != "en"),
    }
    sdf = mix_corpora(sources, MIX_WEIGHTS).select(
        "doc_id", "source", "epoch", "mix_key"
    )

    def part(name, where, epoch, frac):
        esalt = f"mix:{name}:{epoch}:"
        u = uniform_hash_sql("doc_id", esalt)
        k = uniform_hash_sql("doc_id", esalt + "k:")
        cond = f"AND {u} < {frac!r}" if frac < 1.0 else ""
        return (
            f"SELECT doc_id, '{name}' AS source, {epoch} AS epoch, "
            f"{k} AS mix_key FROM documents WHERE {where} {cond}"
        )

    sql = " UNION ALL ".join(
        [
            part("en", "lang = 'en'", 0, 1.0),
            part("en", "lang = 'en'", 1, MIX_WEIGHTS["en"] - 1),
            part("other", "lang <> 'en'", 0, MIX_WEIGHTS["other"]),
        ]
    )
    return sdf, sql


def x_temperature_mix(spark, con, sf_dir):
    """temperature_mixture (XLM/mT5 alpha-sampling weights driving the
    deterministic mix) vs a DuckDB replica: weights derived from the
    SAME published formula in plain python, epochs + fractional hash
    sampling replicated with the shared md5 arithmetic."""
    from qualityassurancetool_spark.operators.mixing import (
        temperature_mixture,
        temperature_weights,
    )
    from qualityassurancetool_spark.operators.sampling import (
        uniform_hash_sql,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    sources = {
        "en": docs.where(F.col("lang") == "en"),
        "other": docs.where(F.col("lang") != "en"),
    }
    sdf = temperature_mixture(sources, alpha=0.3).select(
        "doc_id", "source", "epoch", (F.round("mix_key", 9) + F.lit(0.0)).alias("key_r")
    )
    sizes = {n: df.count() for n, df in sources.items()}
    w = temperature_weights(sizes, alpha=0.3)

    def parts(name, where):
        import math

        weight = w[name]
        full, frac = int(math.floor(weight)), weight - int(math.floor(weight))
        out = []
        for epoch in range(full):
            out.append((name, where, epoch, 1.0))
        if frac > 0:
            out.append((name, where, full, frac))
        return out

    def sql_part(name, where, epoch, frac):
        esalt = f"mix:{name}:{epoch}:"
        u = uniform_hash_sql("doc_id", esalt)
        k = uniform_hash_sql("doc_id", esalt + "k:")
        cond = f"AND {u} < {frac!r}" if frac < 1.0 else ""
        return (
            f"SELECT doc_id, '{name}' AS source, {epoch} AS epoch, "
            f"round({k}, 9) + 0.0 AS key_r FROM documents "
            f"WHERE {where} {cond}"
        )

    sql = " UNION ALL ".join(
        sql_part(*p)
        for name, where in (("en", "lang = 'en'"), ("other", "lang <> 'en'"))
        for p in parts(name, where)
    )
    return sdf, sql


def x_lm_score(spark, con, sf_dir):
    """Char-trigram LM: train on the en slice, score every doc — full
    train+score chain re-implemented in DuckDB (same add-k smoothing,
    same top-M tie-break, same floor for short docs)."""
    from qualityassurancetool_spark.operators.lm_score import (
        score_documents,
        train_char_lm,
    )

    docs = _docs(spark, sf_dir)
    lm = train_char_lm(docs.where(F.col("lang") == "en"), max_grams=LM_TOP)
    sdf = score_documents(docs, lm).select(
        "doc_id", "n_grams", F.round("lm_logp", 6).alias("lm_logp_r")
    )
    tri = (
        "unnest(list_transform(generate_series(1, length(norm) - 2), "
        "i -> substr(norm, i, 3)))"
    )
    sql = f"""
WITH ref AS (SELECT {_NORM} AS norm FROM documents WHERE lang = 'en'),
tri AS (SELECT {tri} AS gram FROM ref WHERE length(norm) >= 3),
gcounts AS (SELECT gram, COUNT(*) AS n_gram FROM tri GROUP BY gram),
ctx AS (
    SELECT substr(gram, 1, 2) AS c, SUM(n_gram) AS n_context
    FROM gcounts GROUP BY substr(gram, 1, 2)
),
top AS (
    SELECT g.gram, g.n_gram, ctx.n_context
    FROM (SELECT gram, n_gram FROM gcounts
          ORDER BY n_gram DESC, gram LIMIT {LM_TOP}) g
    JOIN ctx ON substr(g.gram, 1, 2) = ctx.c
),
alpha AS (
    SELECT CAST(COUNT(DISTINCT ch) AS DOUBLE) AS a FROM (
        SELECT unnest(list_transform(generate_series(1, length(norm)),
            i -> substr(norm, i, 1))) AS ch FROM ref
    ) WHERE length(ch) > 0
),
docs AS (SELECT doc_id, {_NORM} AS norm FROM documents),
dtri AS (
    SELECT doc_id, {tri} AS gram FROM docs WHERE length(norm) >= 3
),
j AS (
    SELECT d.doc_id,
           ln((COALESCE(t.n_gram, 0) + 1.0) /
              (COALESCE(t.n_context, 0) + (SELECT a FROM alpha)))
               AS lp
    FROM dtri d LEFT JOIN top t USING (gram)
),
sc AS (
    SELECT doc_id, COUNT(*) AS n_grams, AVG(lp) AS lm_logp FROM j
    GROUP BY doc_id
),
scores AS (
    SELECT doc_id, n_grams, lm_logp FROM sc
    UNION ALL
    SELECT doc_id, 0, ln(1.0 / (SELECT a FROM alpha))
    FROM docs WHERE length(norm) < 3
)
SELECT doc_id, n_grams, round(lm_logp, 6) + 0.0 AS lm_logp_r FROM scores
"""
    return sdf, sql


# the WITH-chain above, reusable: train-on-en + score-all → scores CTE
def _lm_scores_ctes() -> str:
    tri = (
        "unnest(list_transform(generate_series(1, length(norm) - 2), "
        "i -> substr(norm, i, 3)))"
    )
    return f"""
WITH ref AS (SELECT {_NORM} AS norm FROM documents WHERE lang = 'en'),
tri AS (SELECT {tri} AS gram FROM ref WHERE length(norm) >= 3),
gcounts AS (SELECT gram, COUNT(*) AS n_gram FROM tri GROUP BY gram),
ctx AS (
    SELECT substr(gram, 1, 2) AS c, SUM(n_gram) AS n_context
    FROM gcounts GROUP BY substr(gram, 1, 2)
),
top AS (
    SELECT g.gram, g.n_gram, ctx.n_context
    FROM (SELECT gram, n_gram FROM gcounts
          ORDER BY n_gram DESC, gram LIMIT {LM_TOP}) g
    JOIN ctx ON substr(g.gram, 1, 2) = ctx.c
),
alpha AS (
    SELECT CAST(COUNT(DISTINCT ch) AS DOUBLE) AS a FROM (
        SELECT unnest(list_transform(generate_series(1, length(norm)),
            i -> substr(norm, i, 1))) AS ch FROM ref
    ) WHERE length(ch) > 0
),
docs AS (SELECT doc_id, {_NORM} AS norm FROM documents),
dtri AS (
    SELECT doc_id, {tri} AS gram FROM docs WHERE length(norm) >= 3
),
j AS (
    SELECT d.doc_id,
           ln((COALESCE(t.n_gram, 0) + 1.0) /
              (COALESCE(t.n_context, 0) + (SELECT a FROM alpha)))
               AS lp
    FROM dtri d LEFT JOIN top t USING (gram)
),
sc AS (
    SELECT doc_id, COUNT(*) AS n_grams, AVG(lp) AS lm_logp FROM j
    GROUP BY doc_id
),
scores AS (
    SELECT doc_id, n_grams, lm_logp FROM sc
    UNION ALL
    SELECT doc_id, 0, ln(1.0 / (SELECT a FROM alpha))
    FROM docs WHERE length(norm) < 3
)"""


def x_lm_buckets(spark, con, sf_dir):
    """lm_perplexity_buckets (CCNet head/middle/tail per language) vs
    DuckDB quantile_cont on the UNROUNDED score chain — rounding before
    the percentile would shift cut points by up to 5e-7 and flip
    boundary docs whenever (n-1)*q is integral."""
    from qualityassurancetool_spark.operators.lm_score import (
        lm_perplexity_buckets,
        score_documents,
        train_char_lm,
    )

    docs = _docs(spark, sf_dir)
    lm = train_char_lm(docs.where(F.col("lang") == "en"), max_grams=LM_TOP)
    scored = score_documents(docs, lm).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    sdf = lm_perplexity_buckets(scored, group_col="lang").select(
        "doc_id", "lang", "n_grams", "lm_bucket"
    )
    sql = _lm_scores_ctes() + """,
langed AS (
    SELECT s.doc_id, d.lang, s.n_grams, s.lm_logp
    FROM scores s JOIN documents d USING (doc_id)
),
qs AS (
    SELECT lang,
           quantile_cont(lm_logp, 2.0/3.0) AS q_head,
           quantile_cont(lm_logp, 1.0/3.0) AS q_tail
    FROM langed GROUP BY lang
)
SELECT l.doc_id, l.lang, l.n_grams,
       CASE WHEN l.lm_logp >= q.q_head THEN 'head'
            WHEN l.lm_logp < q.q_tail THEN 'tail'
            ELSE 'middle' END AS lm_bucket
FROM langed l JOIN qs q USING (lang)
"""
    return sdf, sql


def x_redact_pii(spark, con, sf_dir):
    """redact_documents vs a DuckDB regexp_replace chain, on documents
    augmented with a deterministic PII suffix (the raw corpus has no
    planted PII, so augment BOTH engines identically)."""
    from qualityassurancetool_spark.operators.quality_filters import (
        redact_documents,
    )

    suffix = (
        F.concat(
            F.lit(" Contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@Example.COM or +32 2 123 45 67, host 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit("."),
        )
    )
    aug = _docs(spark, sf_dir).select(
        "doc_id", F.concat(F.col("text"), suffix).alias("text")
    )
    sdf = redact_documents(aug)
    from qualityassurancetool_spark.operators.quality_filters import (
        EMAIL_PAT,
        IPV4_PAT,
        PHONE_PAT,
    )

    sql = f"""
WITH t AS (
    SELECT doc_id,
           text || ' Contact user' || CAST(doc_id AS VARCHAR)
                || '@Example.COM or +32 2 123 45 67, host 10.0.0.'
                || CAST(doc_id % 256 AS VARCHAR) || '.' AS txt
    FROM documents
), r AS (
    SELECT doc_id, txt, lower(txt) AS lt FROM t
)
SELECT doc_id,
       regexp_replace(
           regexp_replace(
               regexp_replace(txt, '{EMAIL_PAT}', '<EMAIL>', 'gi'),
               '{IPV4_PAT}', '<IP>', 'g'),
           '{PHONE_PAT}', '<PHONE>', 'g') AS redacted,
       CAST(len(regexp_extract_all(lt, '{EMAIL_PAT}')) AS BIGINT)
           AS n_redacted_emails,
       CAST(len(regexp_extract_all(lt, '{PHONE_PAT}')) AS BIGINT)
           AS n_redacted_phones,
       CAST(len(regexp_extract_all(lt, '{IPV4_PAT}')) AS BIGINT)
           AS n_redacted_ipv4
FROM r
"""
    return sdf, sql


T5_P, T5_MEAN, T5_SALT = 0.06, 3, "t5:"


def x_span_corruption(spark, con, sf_dir):
    """span_corruption vs an exact Python replication of the md5 span
    model and T5 rendering ((rows, rows); fully integer/string, no FP)."""
    import hashlib
    import re

    from qualityassurancetool_spark.operators.augment import (
        span_corruption,
    )

    sdf = span_corruption(
        _docs(spark, sf_dir), p_start=T5_P, mean_span_len=T5_MEAN,
        salt=T5_SALT,
    )
    s_rows = [tuple(r) for r in sdf.collect()]

    def md5_long(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    max_len = 2 * T5_MEAN - 1
    d_rows = []
    for doc_id, text in con.execute(
        "SELECT doc_id, text FROM documents"
    ).fetchall():
        norm = re.sub(r"\s+", " ", text.lower(), flags=re.ASCII).strip()
        toks = norm.split(" ") if norm else []
        n = len(toks)
        spans = []
        nxt = 1
        for i in range(1, max(n, 1) + 1):
            u1 = md5_long(f"{T5_SALT}s:{doc_id}:{i}") / 2**60
            ln = md5_long(f"{T5_SALT}l:{doc_id}:{i}") % max_len + 1
            if i >= nxt and u1 < T5_P:
                e = min(i + ln - 1, n)
                spans.append((i, e, len(spans)))
                nxt = e + 2
        pieces = []
        for i in range(1, n + 1):
            hit = [v for v in spans if v[0] <= i <= v[1]]
            if hit and i == hit[0][0]:
                pieces.append(f"<extra_id_{hit[0][2]}>")
            elif not hit:
                pieces.append(toks[i - 1])
        targets = " ".join(
            f"<extra_id_{k}> " + " ".join(toks[s - 1:e])
            for s, e, k in spans
        )
        d_rows.append(
            (
                doc_id,
                " ".join(pieces),
                targets,
                len(spans),
                sum(e - s + 1 for s, e, _ in spans),
            )
        )
    return s_rows, d_rows


KN_D, KN_K = 0.75, 0.5


def x_kn_lm(spark, con, sf_dir):
    """Kneser-Ney bigram LM (train on en, score all) vs a full DuckDB
    re-implementation of the discount/backoff/floor arithmetic."""
    from qualityassurancetool_spark.operators.kn_lm import (
        score_kn,
        train_kn_bigram,
    )

    docs = _docs(spark, sf_dir)
    model = train_kn_bigram(
        docs.where(F.col("lang") == "en"), discount=KN_D, k=KN_K
    )
    sdf = score_kn(model, docs).select(
        "doc_id",
        "n_bigrams",
        (F.round("kn_logp", 6) + F.lit(0.0)).alias("kn_logp_r"),
    )
    sql = f"""
WITH ref AS (
    SELECT {_NORM} AS norm FROM documents WHERE lang = 'en'
), rtok AS (
    SELECT string_split(norm, ' ') AS t FROM ref WHERE length(norm) > 0
), rpos AS (
    SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
    FROM rtok WHERE len(t) >= 2
), rbg AS (
    SELECT t[CAST(i AS INT)] AS w1, t[CAST(i AS INT) + 1] AS w2 FROM rpos
), big AS (
    SELECT w1, w2, COUNT(*) AS c FROM rbg GROUP BY 1, 2
), ctx AS (
    SELECT w1, SUM(c) AS c1, COUNT(*) AS n_follow FROM big GROUP BY w1
), cont AS (
    SELECT w2, COUNT(*) AS n_prec FROM big GROUP BY w2
), tot AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS t_types FROM big
), voc AS (
    SELECT CAST(COUNT(DISTINCT w) AS DOUBLE) AS v_sz FROM (
        SELECT w1 AS w FROM rbg UNION SELECT w2 FROM rbg
    )
), d AS (
    SELECT doc_id, {_NORM} AS norm FROM documents
), dtok AS (
    SELECT doc_id,
           CASE WHEN length(norm) = 0 THEN []::VARCHAR[]
                ELSE string_split(norm, ' ') END AS t
    FROM d
), dpos AS (
    SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
    FROM dtok WHERE len(t) >= 2
), dbg AS (
    SELECT doc_id, t[CAST(i AS INT)] AS w1, t[CAST(i AS INT) + 1] AS w2
    FROM dpos
), j AS (
    SELECT dbg.doc_id,
           CASE WHEN ctx.c1 IS NOT NULL THEN
               greatest(COALESCE(big.c, 0) - {KN_D}, 0.0) / ctx.c1
               + {KN_D} * ctx.n_follow / ctx.c1
                 * ((COALESCE(cont.n_prec, 0) + {KN_K})
                    / ((SELECT t_types FROM tot)
                       + {KN_K} * (SELECT v_sz FROM voc)))
           ELSE
               (COALESCE(cont.n_prec, 0) + {KN_K})
               / ((SELECT t_types FROM tot)
                  + {KN_K} * (SELECT v_sz FROM voc))
           END AS p
    FROM dbg
    LEFT JOIN big ON big.w1 = dbg.w1 AND big.w2 = dbg.w2
    LEFT JOIN ctx ON ctx.w1 = dbg.w1
    LEFT JOIN cont ON cont.w2 = dbg.w2
), sc AS (
    SELECT doc_id, COUNT(*) AS n_bigrams, AVG(ln(p)) AS kn_logp
    FROM j GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(sc.n_bigrams, 0) AS n_bigrams,
       round(COALESCE(sc.kn_logp,
           ln({KN_K} / ((SELECT t_types FROM tot)
                        + {KN_K} * (SELECT v_sz FROM voc)))), 6) + 0.0
           AS kn_logp_r
FROM d LEFT JOIN sc ON sc.doc_id = d.doc_id
"""
    return sdf, sql


BPE_MERGES = 150


def x_bpe(spark, con, sf_dir):
    """bpe_train + bpe_encode vs a Python replication from DuckDB word
    counts (identical tie-breaks; integer-exact throughout)."""
    import re

    from qualityassurancetool_spark.operators.bpe import (
        EOW,
        bpe_encode,
        bpe_train,
        bpe_train_from_counts,
    )

    docs = _docs(spark, sf_dir)
    merges = bpe_train(docs, n_merges=BPE_MERGES)
    sdf = bpe_encode(docs, merges)
    s_rows = [
        (r["doc_id"], r["n_words"], r["n_bpe_tokens"],
         " ".join(r["tokens"]))
        for r in sdf.collect()
    ]

    rows = con.execute(
        "SELECT doc_id, text FROM documents ORDER BY doc_id"
    ).fetchall()
    wc: dict[str, int] = {}
    norms = {}
    for doc_id, text in rows:
        norm = re.sub(r"\s+", " ", text.lower(), flags=re.ASCII).strip()
        norms[doc_id] = norm
        for w in (norm.split(" ") if norm else []):
            wc[w] = wc.get(w, 0) + 1
    counts = sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))[:100_000]
    ref_merges = bpe_train_from_counts(counts, n_merges=BPE_MERGES)
    assert ref_merges == merges, "merge lists must match exactly"
    # independent encode: apply merges in LEARNED ORDER (subword-nmt's
    # formulation) rather than the operator's rank-greedy loop — the
    # two are equivalent for BPE, so any divergence is a real bug in
    # one of them
    def encode_in_order(word: str) -> list[str]:
        syms = list(word) + [EOW]
        for a, b in ref_merges:
            i, out = 0, []
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    cache: dict[str, list[str]] = {}
    d_rows = []
    for doc_id, _ in rows:
        words = norms[doc_id].split(" ") if norms[doc_id] else []
        enc: list[str] = []
        for w in words:
            got = cache.get(w)
            if got is None:
                got = encode_in_order(w)
                cache[w] = got
            enc.extend(got)
        d_rows.append((doc_id, len(words), len(enc), " ".join(enc)))
    return s_rows, d_rows


DRIFT_QS = "[0.1, 0.25, 0.5, 0.75, 0.9]"


def _signal_exprs() -> dict[str, str]:
    """DuckDB renderings of the quality signals (same formulas the
    declared text_quality_filters oracle uses), over a CTE exposing
    (text, lt, tok)."""
    from qualityassurancetool_spark.operators.quality_filters import (
        EMAIL_PAT,
        IPV4_PAT,
        PHONE_PAT,
        SYMBOL_PAT,
    )

    bg = (
        "list_transform(range(1, greatest(len(tok) - 1, 1) + 1), "
        "i -> concat_ws(' ', tok[i], tok[i+1]))"
    )
    return {
        "dup_line_fraction": (
            "CASE WHEN len(string_split(text, chr(10))) > 0 THEN "
            "1.0 - CAST(len(list_distinct(string_split(text, chr(10)))) "
            "AS DOUBLE) / len(string_split(text, chr(10))) ELSE 0.0 END"
        ),
        "word_rep_ratio": (
            "CASE WHEN len(tok) > 0 THEN "
            "1.0 - CAST(len(list_distinct(tok)) AS DOUBLE) / len(tok) "
            "ELSE 0.0 END"
        ),
        "top_bigram_fraction": (
            f"CASE WHEN len(tok) >= 2 THEN "
            f"CAST(list_max(list_transform(list_distinct({bg}), "
            f"x -> len(list_filter({bg}, y -> y = x)))) AS DOUBLE) "
            f"/ len({bg}) ELSE 0.0 END"
        ),
        "symbol_ratio": (
            f"CASE WHEN length(lt) > 0 THEN "
            f"CAST(len(regexp_extract_all(lt, '{SYMBOL_PAT}')) AS DOUBLE)"
            f" / length(lt) ELSE 0.0 END"
        ),
        "pii_emails": (
            f"CAST(len(regexp_extract_all(lt, '{EMAIL_PAT}')) AS DOUBLE)"
        ),
        "pii_phones": (
            f"CAST(len(regexp_extract_all(lt, '{PHONE_PAT}')) AS DOUBLE)"
        ),
        "pii_ipv4": (
            f"CAST(len(regexp_extract_all(lt, '{IPV4_PAT}')) AS DOUBLE)"
        ),
    }


def x_corpus_drift(spark, con, sf_dir):
    """corpus_drift vs DuckDB quantile_cont, snapshots = id-halves with
    a planted symbol-heavy suffix on side b."""
    from qualityassurancetool_spark.operators.quality_filters import (
        corpus_drift,
    )

    docs = _docs(spark, sf_dir)
    a = docs.filter(F.col("doc_id") < 250)
    b = docs.filter(F.col("doc_id") >= 250).withColumn(
        "text", F.concat(F.col("text"), F.lit(" $$$ ###"))
    )
    sdf = corpus_drift(a, b)

    def base(name: str, where: str, suffix: str) -> str:
        txt = "text" + (f" || '{suffix}'" if suffix else "")
        return f"""{name} AS (
    SELECT {txt} AS text, lower({txt}) AS lt,
           string_split(trim(regexp_replace(lower({txt}), '\\s+', ' ',
               'g')), ' ') AS tok
    FROM documents WHERE {where}
)"""

    exprs = _signal_exprs()
    sides = []
    for tag, src in (("a", "base_a"), ("b", "base_b")):
        branches = "\nUNION ALL\n".join(
            f"SELECT '{name}' AS signal, "
            f"quantile_cont({expr}, {DRIFT_QS}) AS q_{tag} FROM {src}"
            for name, expr in exprs.items()
        )
        sides.append(f"q{tag} AS (\n{branches}\n)")
    sql = (
        "WITH "
        + base("base_a", "doc_id < 250", "")
        + ",\n"
        + base("base_b", "doc_id >= 250", " $$$ ###")
        + ",\n"
        + ",\n".join(sides)
        + """
SELECT qa.signal,
       list_transform(qa.q_a, x -> round(x, 6)) AS q_a,
       list_transform(qb.q_b, x -> round(x, 6)) AS q_b,
       round(list_max(list_transform(range(1, 6),
           i -> abs(qa.q_a[i] - qb.q_b[i]))), 6) AS max_gap
FROM qa JOIN qb ON qa.signal = qb.signal
"""
    )
    return sdf, sql


PH_MAXH = 6


def _resample_method_check(method: str, value_sql: str):
    """resample_interpolate's non-linear methods vs the declared
    query's DuckDB replica with the interpolation CASE swapped — the
    grid/window/duplicate machinery is shared verbatim with the
    `resample` gate row; only the valuing rule differs (round 9:
    ffill/nearest were pytest-only)."""

    def check(spark, con, sf_dir):
        from qualityassurancetool_spark.operators.resample import (
            resample_interpolate,
        )
        from qualityassurancetool_spark.schema import load_table

        m = load_entry()
        orders = load_table(spark, sf_dir, "orders").select(
            F.col("o_orderpriority").alias("sid"),
            F.col("o_orderdate").cast("timestamp").alias("ts"),
            F.col("o_totalprice").alias("v"),
        )
        sdf = resample_interpolate(
            orders, id_col="sid", ts_col="ts", value_col="v",
            freq_seconds=604800, method=method,
        ).select(
            "sid",
            F.unix_timestamp("grid_ts").alias("grid_epoch"),
            # floor-based 6-dp rounding, same rationale as the
            # declared resample row (round() boundary divergence)
            (
                F.floor(F.col("value") * 1e6 + F.lit(0.5)) / 1e6
                + F.lit(0.0)
            ).alias("value_r"),
            "n_src",
        )
        base = m.SQL_RESAMPLE
        head = base[: base.rindex("SELECT t.sid")]
        sql = head + f"""SELECT t.sid, t.e AS grid_epoch,
       floor(({value_sql}) * 1000000.0 + 0.5) / 1000000.0 + 0.0
           AS value_r,
       COALESCE(d.n_src, 0) AS n_src
FROM ticks t LEFT JOIN dup d ON t.sid = d.sid AND t.e = d.e
"""
        return sdf, sql

    check.__name__ = f"x_resample_{method}"
    check.__doc__ = _resample_method_check.__doc__
    return check


x_resample_ffill = _resample_method_check("ffill", "t.pv")
x_resample_nearest = _resample_method_check(
    "nearest",
    """CASE WHEN t.pt = t.e THEN t.pv
            WHEN t.pt IS NULL THEN t.nv
            WHEN t.nt IS NULL THEN t.pv
            WHEN (t.e - t.pt) <= (t.nt - t.e) THEN t.pv
            ELSE t.nv END""",
)


def x_isotonic(spark, con, sf_dir):
    """Isotonic calibration (binned PAV fit + pure-Column apply) vs an
    INDEPENDENT replica: same deterministic noisy-monotone labels
    rebuilt from DuckDB rows, bins re-derived in Python, and PAV
    re-implemented with the O(n²) repeated-pooling formulation (not
    the operator's stack) — so a stack-handling bug cannot confirm
    itself.  (rows, rows) comparison at 9 dp."""
    from qualityassurancetool_spark.operators.calibration import (
        isotonic_apply,
        isotonic_fit,
    )
    from qualityassurancetool_spark.schema import load_table

    N_BINS = 20

    def mk(keys_prices):
        rows = []
        for k, p in keys_prices:
            s = (float(p) % 1000.0) / 1000.0
            # noisy-monotone label: deterministic integer hash vs a
            # monotone threshold in s (same arithmetic both engines)
            y = 1.0 if (int(k) * 2654435761) % 97 < 10 + 80 * s else 0.0
            rows.append((int(k), s, y))
        return rows

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    srows = mk(
        (r["o_orderkey"], r["o_totalprice"]) for r in orders.collect()
    )
    df = spark.createDataFrame(srows, "k long, s double, y double")
    model = isotonic_fit(df, "s", "y", n_bins=N_BINS)
    sdf = df.select(
        "k", F.round(isotonic_apply(model, F.col("s")), 9).alias("p")
    )
    s_rows = [tuple(r) for r in sdf.collect()]

    prows = mk(
        con.execute(
            "SELECT o_orderkey, o_totalprice FROM orders"
        ).fetchall()
    )
    lo = min(s for _, s, _ in prows)
    hi = max(s for _, s, _ in prows)
    span = (hi - lo) or 1.0
    sums = [0.0] * N_BINS
    cnts = [0] * N_BINS
    for _, s, y in prows:
        b = min(int((s - lo) / span * N_BINS), N_BINS - 1)
        sums[b] += y
        cnts[b] += 1
    populated = [i for i in range(N_BINS) if cnts[i] > 0]
    # independent PAV: blocks pooled by repeated full scans
    blocks = [
        [sums[i] / cnts[i], float(cnts[i]), 1] for i in populated
    ]  # [mean, weight, n_bins]
    changed = True
    while changed:
        changed = False
        for i in range(len(blocks) - 1):
            if blocks[i][0] >= blocks[i + 1][0] and not (
                blocks[i][0] == blocks[i + 1][0]
            ):
                m1, w1, c1 = blocks[i]
                m2, w2, c2 = blocks[i + 1]
                tot = w1 + w2
                blocks[i : i + 2] = [
                    [(m1 * w1 + m2 * w2) / tot, tot, c1 + c2]
                ]
                changed = True
                break
    fit_vals: list[float] = []
    for mean, _w, c in blocks:
        fit_vals.extend([mean] * c)
    rates = [0.0] * N_BINS
    cur = fit_vals[0]
    j = 0
    for i in range(N_BINS):
        if j < len(populated) and i == populated[j]:
            cur = fit_vals[j]
            j += 1
        rates[i] = cur
    d_rows = []
    for k, s, _y in prows:
        b = max(0, min(int((s - lo) / span * N_BINS), N_BINS - 1))
        d_rows.append((k, round(rates[b], 9)))
    return s_rows, d_rows


def x_simhash_pairs_full(spark, con, sf_dir):
    """The round-10 declared `simhash_pairs` gate grades a
    deterministic 10% doc slice (pair volume grows ~quadratically with
    SF on this synthetic corpus); this extra grades the FULL corpus at
    the harness's own SF — banded candidates + exact Hamming verify vs
    the same DuckDB replica without the slice."""
    from qualityassurancetool_spark.operators.dedup import (
        simhash_near_dup_pairs,
    )

    docs = _docs(spark, sf_dir)
    sdf = simhash_near_dup_pairs(
        docs, bits=32, bands=4, max_hamming=3
    ).orderBy("id_a", "id_b")
    return sdf, load_entry()._sql_simhash_pairs(sliced=False)


def _region_test_polygon():
    """Deterministic jagged ~120-vertex star inside the synthetic
    ship-track box (lat 51.0-51.2, lon 3.0-3.2) — Python-float
    vertices shared verbatim by the Spark operator and the SQL literal
    (repr round-trips doubles exactly)."""
    import math
    import random

    rng = random.Random(20261016)
    cx, cy, base_r = 3.1, 51.1, 0.06
    r = base_r
    verts = []
    for i in range(120):
        a = 2.0 * math.pi * i / 120
        r = min(
            max(r + rng.uniform(-0.15, 0.15) * base_r, 0.3 * base_r),
            1.7 * base_r,
        )
        verts.append((cx + r * math.cos(a), cy + 0.5 * r * math.sin(a)))
    return verts


def x_region_mask(spark, con, sf_dir):
    """assign_region_masked (rasterized conclusive-cell mask + exact
    boundary ray-cast fallback, round 10) vs a full DuckDB replica of
    the even-odd crossing count over the same literal edges — pins the
    chunked `_ray_cast` arithmetic AND the mask's conclusive-cell
    theorem cross-engine on real point spread (the synthetic
    ship-track)."""
    from qualityassurancetool_spark.schema import events_as_observations
    from qualityassurancetool_spark.sources.spatial import (
        assign_region_masked,
        build_region_mask,
    )

    verts = _region_test_polygon()
    polys = [("zone", verts)]
    obs = events_as_observations(spark, sf_dir).where(
        F.col("iot_id") % 17 == 0
    )
    mask = build_region_mask(polys, cell_deg=0.01)
    sdf = (
        assign_region_masked(
            obs.select("iot_id", "lat", "long"), polys, mask=mask
        )
        .select("iot_id", "region")
        .orderBy("iot_id")
    )
    closed = verts + [verts[0]]
    edge_rows = ",\n".join(
        f"({x1!r}, {y1!r}, {x2!r}, {y2!r})"
        for (x1, y1), (x2, y2) in zip(closed[:-1], closed[1:])
    )
    sql = f"""
WITH pts AS (
    SELECT event_id AS iot_id,
           51.0 + ((event_id * 7919) % 2000) / 10000.0 AS lat,
           3.0 + ((event_id * 104729) % 2000) / 10000.0 AS lon
    FROM events WHERE event_id % 17 = 0
), edges(x1, y1, x2, y2) AS (
    VALUES {edge_rows}
), crossings AS (
    SELECT p.iot_id,
           SUM(CASE WHEN (e.y1 > p.lat) != (e.y2 > p.lat)
                    THEN CASE WHEN p.lon <
                              e.x1 + (p.lat - e.y1) * (e.x2 - e.x1)
                                   / (e.y2 - e.y1)
                         THEN 1 ELSE 0 END
                    ELSE 0 END) AS c
    FROM pts p CROSS JOIN edges e
    GROUP BY p.iot_id
)
SELECT iot_id, CASE WHEN c % 2 = 1 THEN 'zone' END AS region
FROM crossings ORDER BY iot_id
"""
    return sdf, sql


def x_simhash(spark, con, sf_dir):
    """simhash (salted-md5 token hashes → per-bit ±1 majority → 32-bit
    pack) vs a full DuckDB replica of the identical bit arithmetic —
    the one dedup-family hash that had only pytest pins (round 9).
    Exact integers, every document."""
    from qualityassurancetool_spark.functions.partitioning import (
        compute_behind_barrier,
    )
    from qualityassurancetool_spark.operators.dedup import (
        simhash_from_token_hashes,
        simhash_token_hashes,
    )

    docs = _docs(spark, sf_dir)
    # attribute-only contract: materialize the token-hash array ONCE
    # behind a barrier; the 32 per-bit folds then reference it
    staged = compute_behind_barrier(
        docs.select("doc_id", "text"),
        {"_th": simhash_token_hashes(F.col("text"))},
    )
    sdf = staged.select(
        "doc_id",
        simhash_from_token_hashes(F.col("_th"), 32).alias("simhash"),
    )
    sql = f"""
WITH tok AS (
    SELECT doc_id,
           unnest(list_distinct(string_split({_NORM}, ' '))) AS t
    FROM documents
), h AS (
    SELECT doc_id,
           CAST(concat('0x', substring(md5(concat('sh:', t)), 1, 15))
                AS BIGINT) AS hv
    FROM tok
), bits AS (
    SELECT doc_id, b,
           SUM(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS contrib
    FROM h CROSS JOIN generate_series(0, 31) s(b)
    GROUP BY doc_id, b
)
SELECT doc_id,
       SUM(CASE WHEN contrib > 0
                THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS simhash
FROM bits GROUP BY doc_id
"""
    return sdf, sql


def x_media_phash(spark, con, sf_dir):
    """perceptual_hash + media_near_dup_pairs (fake decode kernel) vs
    an exact Python replication: byte-window features with float32
    truncation, sequential mean fold, aHash packing, 16-bit banding,
    Hamming verify."""
    import numpy as np

    from qualityassurancetool_spark.operators.multimodal import (
        media_near_dup_pairs,
    )

    media = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.lit("application/octet-stream").alias("mime"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
    )
    sdf = media_near_dup_pairs(media, max_hamming=PH_MAXH)
    s_rows = [tuple(r) for r in sdf.collect()]

    def feature(content: bytes, dim: int = 64):
        if not content:
            return [np.float32(0.0)] * dim
        step = max(len(content) // dim, 1)
        out = []
        for i in range(dim):
            chunk = content[i * step : (i + 1) * step] or content[-step:]
            out.append(np.float32(sum(chunk) / (len(chunk) * 255.0)))
        return out

    hashes = {}
    for doc_id, text in con.execute(
        "SELECT doc_id, text FROM documents"
    ).fetchall():
        f = feature((text or "").encode("utf-8"))
        acc = 0.0
        for x in f:
            acc += float(x)
        mean = acc / 64
        h = 0
        for x in f:
            h = h * 2 + (1 if float(x) > mean else 0)
        # Spark's long fold wraps; 64 bits never exceeds signed range
        # here because bit 63 is the FIRST feature's flag times 2^63 —
        # replicate two's complement wrap
        hashes[doc_id] = h - (1 << 64) if h >= (1 << 63) else h

    ids = sorted(hashes)
    mask = (1 << 16) - 1
    d_rows = []
    for i_a in ids:
        for i_b in ids:
            if i_a >= i_b:
                continue
            ha, hb = hashes[i_a], hashes[i_b]
            share = any(
                ((ha >> (16 * b)) & mask) == ((hb >> (16 * b)) & mask)
                for b in range(4)
            )
            if not share:
                continue
            d = bin((ha ^ hb) & ((1 << 64) - 1)).count("1")
            if d <= PH_MAXH:
                d_rows.append((i_a, i_b, d))
    return s_rows, d_rows


FIM_RATE, FIM_SALT = 0.5, "fim:"


def x_fim(spark, con, sf_dir):
    """fim_transform vs an exact Python replication (md5 cut points,
    PSM rendering)."""
    import hashlib
    import re

    from qualityassurancetool_spark.operators.augment import fim_transform

    sdf = fim_transform(
        _docs(spark, sf_dir), fim_rate=FIM_RATE, salt=FIM_SALT
    )
    s_rows = [tuple(r) for r in sdf.collect()]

    def md5_long(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    d_rows = []
    for doc_id, text in con.execute(
        "SELECT doc_id, text FROM documents"
    ).fetchall():
        norm = re.sub(r"\s+", " ", text.lower(), flags=re.ASCII).strip()
        toks = norm.split(" ") if norm else []
        n = len(toks)
        pick = md5_long(f"{FIM_SALT}r:{doc_id}:0") / 2**60 < FIM_RATE
        use = pick and n >= 2
        if not use:
            d_rows.append((doc_id, norm, False))
            continue
        c1 = md5_long(f"{FIM_SALT}c1:{doc_id}") % (n + 1)
        c2 = md5_long(f"{FIM_SALT}c2:{doc_id}") % (n + 1)
        lo, hi = min(c1, c2), max(c1, c2)
        out = (
            "<fim_prefix> " + " ".join(toks[:lo])
            + " <fim_suffix> " + " ".join(toks[hi:])
            + " <fim_middle> " + " ".join(toks[lo:hi])
        )
        d_rows.append((doc_id, out, True))
    return s_rows, d_rows


def x_script_profile(spark, con, sf_dir):
    """script_profile vs DuckDB regexp_extract_all counting with the
    identical literal codepoint-range classes."""
    from qualityassurancetool_spark.operators.text import (
        SCRIPT_RANGES,
        script_profile,
    )

    sdf = script_profile(_docs(spark, sf_dir))
    count_cols = ",\n       ".join(
        f"CAST(len(regexp_extract_all(text, '[{rng}]')) AS BIGINT) AS {name}"
        for name, rng in SCRIPT_RANGES.items()
    )
    names = list(SCRIPT_RANGES)
    best = "greatest(" + ", ".join(names) + ")"
    dom = "'none'"
    for name in reversed(names):
        dom = (
            f"CASE WHEN {best} > 0 AND {name} = {best} "
            f"THEN '{name}' ELSE {dom} END"
        )
    sql = f"""
WITH c AS (
    SELECT doc_id, length(text) AS n_chars,
       {count_cols}
    FROM documents
)
SELECT c.*, {dom} AS dominant_script FROM c
"""
    return sdf, sql


def x_compression_ratio(spark, con, sf_dir):
    """compression_ratios vs the driver interpreter's own zlib — exact
    ((rows, rows) shape; DuckDB has no zlib)."""
    import zlib

    from qualityassurancetool_spark.operators.quality_filters import (
        compression_ratios,
    )

    sdf = compression_ratios(_docs(spark, sf_dir))
    s_rows = [
        (r["doc_id"], r["n_bytes"], round(r["compression_ratio"], 9))
        for r in sdf.collect()
    ]
    d_rows = []
    for doc_id, text in con.execute(
        "SELECT doc_id, text FROM documents"
    ).fetchall():
        b = (text or "").encode("utf-8")
        d_rows.append(
            (
                doc_id,
                len(b),
                round(len(zlib.compress(b, 6)) / len(b), 9)
                if b
                else 1.0,
            )
        )
    return s_rows, d_rows


def x_domain_reputation(spark, con, sf_dir):
    """domain_reputation vs DuckDB, on docs augmented with a
    doc_id-keyed URL (and PII on every third doc) so domains repeat
    across documents."""
    from qualityassurancetool_spark.operators.quality_filters import (
        EMAIL_PAT,
        IPV4_PAT,
        PHONE_PAT,
        SYMBOL_PAT,
        domain_reputation,
    )

    suffix = F.concat(
        F.lit(" see https://site"),
        (F.col("doc_id") % 11).cast("string"),
        F.lit(".example.org/p"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(" mail a@b.co")).otherwise(
            F.lit("")
        ),
    )
    aug = _docs(spark, sf_dir).select(
        "doc_id", F.concat(F.col("text"), suffix).alias("text")
    )
    sdf = domain_reputation(aug)
    cnt = (
        "CAST(len(regexp_extract_all(lt, '{p}')) AS BIGINT)"
    )
    pii_sum = " + ".join(
        cnt.format(p=p) for p in (EMAIL_PAT, PHONE_PAT, IPV4_PAT)
    )
    sql = f"""
WITH t AS (
    SELECT doc_id,
           text || ' see https://site' || CAST(doc_id % 11 AS VARCHAR)
                || '.example.org/p'
                || CASE WHEN doc_id % 3 = 0 THEN ' mail a@b.co'
                        ELSE '' END AS txt
    FROM documents
), sig AS (
    SELECT doc_id, lower(txt) AS lt FROM t
), per_doc AS (
    SELECT doc_id,
           list_distinct(regexp_extract_all(lt,
               'https?://(?:www\\.)?([^\\s<>"''/:?#]+)', 1)) AS doms,
           CASE WHEN length(lt) > 0
                THEN CAST(len(regexp_extract_all(lt, '{SYMBOL_PAT}'))
                     AS DOUBLE) / length(lt)
                ELSE 0.0 END AS sym,
           ({pii_sum}) > 0 AS has_pii
    FROM sig
), e AS (
    SELECT unnest(doms) AS domain, sym, has_pii FROM per_doc
)
SELECT domain, count(*) AS n_docs,
       round(avg(sym), 6) + 0.0 AS avg_symbol_ratio,
       round(avg(CAST(has_pii AS DOUBLE)), 6) + 0.0 AS pii_doc_rate
FROM e GROUP BY domain
"""
    return sdf, sql


WS_K = 40


def x_weighted_sample(spark, con, sf_dir):
    """weighted_sample_topk (Efraimidis-Spirakis keys) vs the identical
    DuckDB rendering, globally and per-language."""
    from qualityassurancetool_spark.operators.sampling import (
        uniform_hash_sql,
        weighted_sample_topk,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
    sdf = weighted_sample_topk(
        docs, WS_K, "n_chars", strata_col="lang"
    ).select("doc_id", "lang", "sample_rank")
    u = uniform_hash_sql("doc_id", "wsamp:")
    sql = f"""
WITH keyed AS (
    SELECT doc_id, lang,
           pow({u}, 1.0 / CAST(n_chars AS DOUBLE)) AS es_key
    FROM documents WHERE CAST(n_chars AS DOUBLE) > 0
), ranked AS (
    SELECT doc_id, lang,
           row_number() OVER (PARTITION BY lang
                              ORDER BY es_key DESC, doc_id ASC)
               AS sample_rank
    FROM keyed
)
SELECT doc_id, lang, sample_rank FROM ranked WHERE sample_rank <= {WS_K}
"""
    return sdf, sql


CLF_BUCKETS = 512


def x_classifier(spark, con, sf_dir):
    """train_log_odds + score_linear vs an exact Python replication
    (same md5 bucketing, same count arithmetic, same sequential score
    fold — training is integer-exact, scoring differs only at the
    sigmoid's last ulp, absorbed by round(6))."""
    import hashlib
    import math
    import re

    from qualityassurancetool_spark.operators.classifier import (
        score_linear,
        train_log_odds,
    )

    labeled = _docs(spark, sf_dir).withColumn(
        "label", F.col("lang") == "en"
    )
    w, b = train_log_odds(labeled, n_buckets=CLF_BUCKETS)
    sdf = score_linear(_docs(spark, sf_dir), w, b, n_buckets=CLF_BUCKETS)
    s_rows = [
        (r["doc_id"], r["n_features"],
         round(r["score"], 6) + 0.0, round(r["prob"], 6) + 0.0)
        for r in sdf.collect()
    ]

    docs = con.execute(
        "SELECT doc_id, text, lang FROM documents ORDER BY doc_id"
    ).fetchall()

    def feats(text):
        norm = re.sub(r"\s+", " ", text.lower(), flags=re.ASCII).strip()
        if not norm:
            return []
        toks = norm.split(" ")
        fs = list(toks)
        fs += [f"{a} {b2}" for a, b2 in zip(toks, toks[1:])]
        return [
            int(hashlib.md5(f.encode()).hexdigest()[:15], 16) % CLF_BUCKETS
            for f in fs
        ]

    pos_b = [0] * CLF_BUCKETS
    tot_b = [0] * CLF_BUCKETS
    n_pos = 0
    cache = {}
    for doc_id, text, lang in docs:
        bs = feats(text)
        cache[doc_id] = bs
        y = lang == "en"
        n_pos += y
        for bb in bs:
            tot_b[bb] += 1
            pos_b[bb] += y
    pos_total = sum(pos_b)
    neg_total = sum(tot_b) - pos_total
    s = 1.0
    wp = [
        math.log((pos_b[i] + s) / (pos_total + s * CLF_BUCKETS))
        - math.log((tot_b[i] - pos_b[i] + s) / (neg_total + s * CLF_BUCKETS))
        for i in range(CLF_BUCKETS)
    ]
    bias = math.log((n_pos + s) / (len(docs) - n_pos + s))
    assert wp == w and bias == b, "training replication must be exact"

    d_rows = []
    for doc_id, text, lang in docs:
        bs = cache[doc_id]
        acc = 0.0
        for bb in bs:
            acc += wp[bb]
        score = bias + acc / len(bs) if bs else bias
        prob = 1.0 / (1.0 + math.exp(-score))
        d_rows.append(
            (doc_id, len(bs), round(score, 6) + 0.0, round(prob, 6) + 0.0)
        )
    return s_rows, d_rows


KM_K, KM_ITER, KM_STRIDE, SEM_T = 8, 3, 20, 0.95


def x_semantic_dedup(spark, con, sf_dir):
    """kmeans_fit + semantic_dedup vs a numpy Lloyd's re-implementation
    with the same init/tie-break/threshold, on embeddings augmented with
    scaled clones (cosine exactly 1 in exact arithmetic — far above the
    threshold, so FP ulps cannot flip the verdict).

    The numpy side replicates Spark's SEQUENTIAL per-dim folds (python
    loop, not np.sum's pairwise tree) for distances and cosines; only
    the centroid-mean accumulation order differs (Spark partial aggs),
    which perturbs centroids at ~1e-15 — no assignment sits that close
    to a boundary on this data."""
    import numpy as np

    from qualityassurancetool_spark.operators.clustering import (
        semantic_dedup,
    )
    from qualityassurancetool_spark.schema import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    clones = emb.filter(F.col("vec_id") < 40).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * 1.02).alias(
            "embedding"
        ),
    )
    aug = emb.unionByName(clones)
    sdf = semantic_dedup(
        aug, k=KM_K, max_iter=KM_ITER, threshold=SEM_T,
        init_stride=KM_STRIDE, strategy="fold",
    )
    s_rows = [tuple(r) for r in sdf.collect()]
    # the GEMM strategy must agree with the fold twin at this threshold
    # margin (clones are at cosine 1.0, non-dups far below SEM_T)
    g_rows = [
        tuple(r)
        for r in semantic_dedup(
            aug, k=KM_K, max_iter=KM_ITER, threshold=SEM_T,
            init_stride=KM_STRIDE, strategy="gemm",
        ).collect()
    ]
    assert sorted(g_rows) == sorted(s_rows), "gemm/fold strategy drift"

    # ---- numpy oracle ----
    base = con.execute(
        "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id"
    ).fetchall()
    ids = [r[0] for r in base] + [r[0] + 10000 for r in base if r[0] < 40]
    vecs = [
        [float(np.float64(np.float32(x))) for x in r[1]] for r in base
    ] + [
        [float(np.float64(np.float32(x)) * 1.02) for x in r[1]]
        for r in base
        if r[0] < 40
    ]
    by_id = dict(zip(ids, vecs))
    dim = len(vecs[0])

    def seq_l2(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return acc

    def seq_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    import math

    def seq_cos(a, b):
        na = math.sqrt(seq_dot(a, a))
        nb = math.sqrt(seq_dot(b, b))
        return seq_dot(a, b) / (na * nb)

    init_ids = sorted(i for i in ids if i % KM_STRIDE == 0)[:KM_K]
    cents = [list(by_id[i]) for i in init_ids]
    assign = {}
    for _ in range(KM_ITER):
        sums = [[0.0] * dim for _ in range(KM_K)]
        counts = [0] * KM_K
        for i in ids:
            v = by_id[i]
            dists = [seq_l2(v, c) for c in cents]
            best = min(range(KM_K), key=lambda j: (dists[j], j))
            assign[i] = best
            counts[best] += 1
            for d in range(dim):
                sums[best][d] += v[d]
        for j in range(KM_K):
            if counts[j]:
                cents[j] = [s / counts[j] for s in sums[j]]
    # final assignment with the final centroids (mirror kmeans_assign)
    for i in ids:
        v = by_id[i]
        dists = [seq_l2(v, c) for c in cents]
        assign[i] = min(range(KM_K), key=lambda j: (dists[j], j))

    d_rows = []
    for i in ids:
        lower = [
            j
            for j in ids
            if j < i
            and assign[j] == assign[i]
            and seq_cos(by_id[j], by_id[i]) >= SEM_T
        ]
        d_rows.append(
            (i, assign[i], not lower, min(lower) if lower else None)
        )
    return s_rows, d_rows


def x_url_canonical(spark, con, sf_dir):
    """canonicalize_url + dedup_by_canonical_url vs a DuckDB rendering
    of the identical normalization, on URLs synthesized per doc_id in
    five spellings (two of which canonicalize identically)."""
    from qualityassurancetool_spark.operators.urls import (
        canonicalize_url,
        dedup_by_canonical_url,
    )

    h = (F.col("doc_id") % 13).cast("string")
    m = (F.col("doc_id") % 37).cast("string")
    v = F.col("doc_id") % 5
    url = (
        F.when(v == 0, F.concat(F.lit("HTTPS://WWW.Site"), h, F.lit(".COM:443/p/"), m, F.lit("/?utm_source=x#f")))
        .when(v == 1, F.concat(F.lit("https://site"), h, F.lit(".com/p/"), m))
        .when(v == 2, F.concat(F.lit("http://Site"), h, F.lit(".com:80/p/"), m, F.lit("?gclid=z")))
        .when(v == 3, F.concat(F.lit("https://site"), h, F.lit(".com/p/"), m, F.lit("/?b=2&a=1")))
        .otherwise(F.concat(F.lit("not a url "), m))
    )
    urls = _docs(spark, sf_dir).select("doc_id", url.alias("url"))
    canon = urls.select(
        "doc_id", canonicalize_url(F.col("url")).alias("canonical_url")
    )
    sdf = canon.join(dedup_by_canonical_url(urls), "canonical_url").select(
        "doc_id", "canonical_url", "keep_id", "n_dups"
    )
    sql = """
WITH t AS (
    SELECT doc_id,
           CASE doc_id % 5
             WHEN 0 THEN 'HTTPS://WWW.Site' || CAST(doc_id % 13 AS VARCHAR)
                      || '.COM:443/p/' || CAST(doc_id % 37 AS VARCHAR)
                      || '/?utm_source=x#f'
             WHEN 1 THEN 'https://site' || CAST(doc_id % 13 AS VARCHAR)
                      || '.com/p/' || CAST(doc_id % 37 AS VARCHAR)
             WHEN 2 THEN 'http://Site' || CAST(doc_id % 13 AS VARCHAR)
                      || '.com:80/p/' || CAST(doc_id % 37 AS VARCHAR)
                      || '?gclid=z'
             WHEN 3 THEN 'https://site' || CAST(doc_id % 13 AS VARCHAR)
                      || '.com/p/' || CAST(doc_id % 37 AS VARCHAR)
                      || '/?b=2&a=1'
             ELSE 'not a url ' || CAST(doc_id % 37 AS VARCHAR)
           END AS url
    FROM documents
), c0 AS (
    SELECT doc_id, trim(url) AS u FROM t
), p1 AS (
    SELECT doc_id, u,
        lower(regexp_extract(u, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
        regexp_replace(
            lower(regexp_extract(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)),
            '^www\\.', '') AS auth0,
        regexp_replace(
            regexp_replace(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', ''),
            '#.*$', '') AS rest
    FROM c0
), p2 AS (
    SELECT doc_id, u, scheme,
        CASE WHEN scheme = 'http' AND auth0 LIKE '%:80'
               THEN regexp_replace(auth0, ':80$', '')
             WHEN scheme = 'https' AND auth0 LIKE '%:443'
               THEN regexp_replace(auth0, ':443$', '')
             ELSE auth0 END AS auth,
        regexp_extract(rest, '^([^?]*)', 1) AS path0,
        regexp_extract(rest, '\\?(.*)$', 1) AS query
    FROM p1
), p3 AS (
    SELECT doc_id, u, scheme, auth,
        CASE WHEN path0 = '' THEN '/'
             WHEN length(path0) > 1 AND path0 LIKE '%/'
               THEN regexp_replace(path0, '/$', '')
             ELSE path0 END AS path,
        array_to_string(list_sort(list_filter(string_split(query, '&'),
            p -> p <> '' AND NOT regexp_matches(p,
                '^(utm_[a-zA-Z0-9_]*|gclid|fbclid|msclkid|ref)='))),
            '&') AS q_norm
    FROM p2
), canon AS (
    SELECT doc_id,
        CASE WHEN scheme = '' THEN lower(u)
             ELSE scheme || '://' || auth || path
                  || CASE WHEN q_norm <> '' THEN '?' || q_norm ELSE '' END
        END AS canonical_url
    FROM p3
), dd AS (
    SELECT canonical_url, min(doc_id) AS keep_id, count(*) AS n_dups
    FROM canon GROUP BY canonical_url
)
SELECT c.doc_id, c.canonical_url, dd.keep_id, dd.n_dups
FROM canon c JOIN dd USING (canonical_url)
"""
    return sdf, sql


SPAN_L = 20


def x_span_dedup(spark, con, sf_dir):
    """duplicated_span_dedup (ExactSubstr-style keep-first window dedup)
    vs a DuckDB window-hash + gaps-and-islands re-implementation."""
    from qualityassurancetool_spark.operators.span_dedup import (
        duplicated_span_dedup,
    )

    sdf = duplicated_span_dedup(
        _docs(spark, sf_dir), window_tokens=SPAN_L
    )
    return sdf, _span_dedup_sql()


def x_span_batched(spark, con, sf_dir):
    """duplicated_span_dedup_batched (the hash-sliced bounded-state
    schedule) must reproduce the monolithic operator's cleaned corpus
    VERBATIM — slices partition the hash space, keep-first is decided
    per hash — so it shares x_span_dedup's DuckDB oracle.  Parity with
    the monolithic operator is additionally pinned across hash_batches
    in tests/test_span_dedup.py."""
    import tempfile

    from qualityassurancetool_spark.operators.span_dedup import (
        duplicated_span_dedup_batched,
    )

    sdf = duplicated_span_dedup_batched(
        _docs(spark, sf_dir),
        tempfile.mkdtemp(prefix="qat_spanb_oracle_"),
        window_tokens=SPAN_L,
        hash_batches=3,
    )
    return sdf, _span_dedup_sql()


def _span_dedup_sql() -> str:
    return f"""
WITH d AS (
    SELECT doc_id, {_NORM} AS norm FROM documents
), tk AS (
    SELECT doc_id, string_split(norm, ' ') AS t, {_NTOK} AS n FROM d
), pos AS (
    SELECT doc_id, t,
           unnest(generate_series(1, n - {SPAN_L} + 1)) AS i
    FROM tk WHERE n >= {SPAN_L}
), w AS (
    SELECT doc_id, i,
           CAST(concat('0x', substring(md5(
               array_to_string(list_slice(t, i, i + {SPAN_L} - 1), ' ')
           ), 1, 15)) AS BIGINT) AS h
    FROM pos
), w2 AS (
    SELECT doc_id, i,
           row_number() OVER (PARTITION BY h ORDER BY doc_id, i) AS rn,
           count(*) OVER (PARTITION BY h) AS c
    FROM w
), dups AS (
    SELECT doc_id, i FROM w2 WHERE c >= 2 AND rn > 1
), cov AS (
    SELECT DISTINCT doc_id,
           unnest(generate_series(i, i + {SPAN_L} - 1)) AS p
    FROM dups
), isl AS (
    SELECT doc_id, p,
           p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
    FROM cov
), per_doc AS (
    SELECT doc_id, count(*) AS n_removed,
           count(DISTINCT grp) AS n_spans
    FROM isl GROUP BY doc_id
), alltok AS (
    SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS p
    FROM tk WHERE n > 0
), keptok AS (
    SELECT a.doc_id, a.tok, a.p
    FROM alltok a LEFT JOIN cov c ON c.doc_id = a.doc_id AND c.p = a.p
    WHERE c.doc_id IS NULL
), cleaned AS (
    SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS deduped
    FROM keptok GROUP BY doc_id
)
SELECT tk.doc_id,
       coalesce(cl.deduped, '') AS deduped,
       coalesce(pd.n_removed, 0) AS n_tokens_removed,
       coalesce(pd.n_spans, 0) AS n_spans
FROM tk
LEFT JOIN cleaned cl ON cl.doc_id = tk.doc_id
LEFT JOIN per_doc pd ON pd.doc_id = tk.doc_id
"""


FP_K, FP_W, FP_MAXDF, FP_MINSHARED = 20, 8, 50, 2
INC_T = 0.5

# winnowing fingerprint CTE body, parameterized by the docs CTE name
_FP_CTES = """
{name}_pos AS (
    SELECT doc_id, norm,
           unnest(generate_series(1, length(norm) - {k} + 1)) AS i
    FROM {src} WHERE length(norm) >= {k}
), {name}_g AS (
    SELECT doc_id, i,
           CAST(concat('0x', substring(md5(substring(norm, CAST(i AS INT),
               {k})), 1, 15)) AS BIGINT) AS h
    FROM {name}_pos
), {name}_win AS (
    SELECT doc_id, i,
           min(h) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS BETWEEN CURRENT ROW
                        AND {w1} FOLLOWING) AS mh,
           count(*) OVER (PARTITION BY doc_id) AS n_g
    FROM {name}_g
), {name}_fp AS (
    SELECT DISTINCT doc_id, mh AS fingerprint
    FROM {name}_win WHERE i <= greatest(n_g - {w} + 1, 1)
)"""


def _fp_ctes(name: str, src: str) -> str:
    return _FP_CTES.format(name=name, src=src, k=FP_K, w=FP_W, w1=FP_W - 1)


def x_incremental_fingerprint(spark, con, sf_dir):
    """near_dedup_against_corpus vs DuckDB: seen = doc_id < 250, new =
    doc_id >= 250 plus tail-edited clones of the first 100 seen docs
    (which must be caught as near-dups of their originals)."""
    from qualityassurancetool_spark.operators.fingerprint import (
        document_fingerprints,
        near_dedup_against_corpus,
    )

    docs = _docs(spark, sf_dir)
    seen_docs = docs.filter(F.col("doc_id") < 250).select("doc_id", "text")
    seen_fp = document_fingerprints(seen_docs, k=FP_K, w=FP_W)
    clones = seen_docs.filter(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra tail words here")).alias(
            "text"
        ),
    )
    new = (
        docs.filter(F.col("doc_id") >= 250)
        .select("doc_id", "text")
        .unionByName(clones)
    )
    sdf = near_dedup_against_corpus(
        new, seen_fp, k=FP_K, w=FP_W, threshold=INC_T, max_df=FP_MAXDF
    )
    sql = f"""
WITH seen_d AS (
    SELECT doc_id, {_NORM} AS norm FROM documents WHERE doc_id < 250
), new_d AS (
    SELECT doc_id,
           trim(regexp_replace(lower(txt), '\\s+', ' ', 'g')) AS norm
    FROM (
        SELECT doc_id, text AS txt FROM documents WHERE doc_id >= 250
        UNION ALL
        SELECT doc_id + 10000, text || ' extra tail words here'
        FROM documents WHERE doc_id < 100
    )
), {_fp_ctes("s", "seen_d")}, {_fp_ctes("n", "new_d")},
sizes AS (
    SELECT doc_id, count(*) AS n_fp FROM n_fp GROUP BY doc_id
), rare AS (
    SELECT fingerprint FROM s_fp
    GROUP BY fingerprint HAVING count(*) <= {FP_MAXDF}
), shared AS (
    SELECT n_fp.doc_id, s_fp.doc_id AS seen_id, count(*) AS n_shared
    FROM n_fp
    JOIN rare USING (fingerprint)
    JOIN s_fp ON s_fp.fingerprint = n_fp.fingerprint
    GROUP BY 1, 2
), hits AS (
    SELECT sh.doc_id, min(sh.seen_id) AS dup_of_seen,
           max(sh.n_shared * 1.0 / sz.n_fp) AS max_cont
    FROM shared sh JOIN sizes sz ON sz.doc_id = sh.doc_id
    WHERE sh.n_shared * 1.0 / sz.n_fp >= {INC_T}
    GROUP BY sh.doc_id
)
SELECT d.doc_id,
       coalesce(sz.n_fp, 0) AS n_fp,
       h.dup_of_seen IS NULL AS kept,
       h.dup_of_seen,
       round(coalesce(h.max_cont, 0.0), 6) AS containment
FROM new_d d
LEFT JOIN sizes sz ON sz.doc_id = d.doc_id
LEFT JOIN hits h ON h.doc_id = d.doc_id
"""
    return sdf, sql


def x_fingerprint(spark, con, sf_dir):
    """Winnowing copy-candidate pairs (operators/fingerprint.py) vs a
    DuckDB lateral generate_series + window-min re-implementation."""
    from qualityassurancetool_spark.operators.fingerprint import (
        fingerprint_overlap_pairs,
    )

    sdf = fingerprint_overlap_pairs(
        _docs(spark, sf_dir),
        k=FP_K,
        w=FP_W,
        max_df=FP_MAXDF,
        min_shared=FP_MINSHARED,
    )
    sql = f"""
WITH d AS (
    SELECT doc_id, {_NORM} AS norm FROM documents
), pos AS (
    SELECT doc_id, norm,
           unnest(generate_series(1, length(norm) - {FP_K} + 1)) AS i
    FROM d WHERE length(norm) >= {FP_K}
), g AS (
    SELECT doc_id, i,
           CAST(concat('0x',
               substring(md5(substring(norm, CAST(i AS INT), {FP_K})),
                         1, 15)) AS BIGINT) AS h
    FROM pos
), win AS (
    SELECT doc_id, i,
           min(h) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS BETWEEN CURRENT ROW
                        AND {FP_W - 1} FOLLOWING) AS mh,
           count(*) OVER (PARTITION BY doc_id) AS n_g
    FROM g
), fp AS (
    SELECT DISTINCT doc_id, mh AS fingerprint
    FROM win WHERE i <= greatest(n_g - {FP_W} + 1, 1)
), sizes AS (
    SELECT doc_id, count(*) AS n_fp FROM fp GROUP BY doc_id
), rare AS (
    SELECT fingerprint FROM fp
    GROUP BY fingerprint HAVING count(*) <= {FP_MAXDF}
), pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
    FROM fp a
    JOIN rare r ON a.fingerprint = r.fingerprint
    JOIN fp b ON b.fingerprint = a.fingerprint
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= {FP_MINSHARED}
)
SELECT p.doc_a, p.doc_b, p.n_shared,
       round(p.n_shared / least(sa.n_fp, sb.n_fp), 6) + 0.0 AS containment
FROM pairs p
JOIN sizes sa ON sa.doc_id = p.doc_a
JOIN sizes sb ON sb.doc_id = p.doc_b
"""
    return sdf, sql


def _line_aug(spark, sf_dir):
    """Deterministic multi-line augmentation for the line-level checks
    (raw testdata docs are single-line): break at ' the ', then append
    a javascript boilerplate line (identical corpus-wide), a shared
    footer (7 variants → ~71 docs each), and a short 'ok' line."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.replace(F.col("text"), F.lit(" the "), F.lit(".\n")),
            F.lit("\nPlease enable javascript to view this page."),
            F.lit("\nShared boilerplate footer variant "),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(" all rights reserved.\nok"),
        ).alias("text"),
    )


_LINE_AUG_SQL = """
SELECT doc_id,
       replace(text, ' the ', '.' || chr(10))
       || chr(10) || 'Please enable javascript to view this page.'
       || chr(10) || 'Shared boilerplate footer variant '
       || CAST(doc_id % 7 AS VARCHAR)
       || ' all rights reserved.' || chr(10) || 'ok' AS txt
FROM documents
"""

# DuckDB spelling of line_dedup.TERMINAL_PUNCT_RE / C4 word count
_TERM_RE_SQL = "[.!?][\"’'']?$"
_KEEP_SQL = (
    "regexp_matches(trim(x), '" + _TERM_RE_SQL + "') AND "
    "len(list_filter(string_split_regex(trim(x), '\\s+'), "
    "w -> length(w) > 0)) >= 3 AND "
    "NOT contains(lower(trim(x)), 'javascript')"
)


def x_c4_lines(spark, con, sf_dir):
    """c4_clean (C4 §2.2 line+page rules) vs a DuckDB list_filter
    re-implementation on identically augmented multi-line docs."""
    from qualityassurancetool_spark.operators.line_dedup import c4_clean

    sdf = c4_clean(_line_aug(spark, sf_dir))
    sql = f"""
WITH t AS ({_LINE_AUG_SQL}),
l AS (
    SELECT doc_id, txt, string_split(txt, chr(10)) AS lines FROM t
),
k AS (
    SELECT doc_id, txt, lines,
           list_filter(lines, x -> {_KEEP_SQL}) AS kept
    FROM l
)
SELECT doc_id,
       array_to_string(kept, chr(10)) AS clean_text,
       len(lines) AS n_lines,
       len(kept) AS n_kept,
       (contains(lower(txt), 'lorem ipsum') OR contains(lower(txt), '{{')
        OR len(kept) < 1) AS page_drop
FROM k
"""
    return sdf, sql


def x_corpus_line_dedup(spark, con, sf_dir):
    """corpus_line_dedup (cross-doc keep-first line dedup) vs a DuckDB
    window re-implementation: same md5 line hashes, same (doc_id, idx)
    keep-first order, same index-based rebuild."""
    from qualityassurancetool_spark.functions.hashing import md5_long_sql
    from qualityassurancetool_spark.operators.line_dedup import (
        corpus_line_dedup,
    )

    sdf = corpus_line_dedup(_line_aug(spark, sf_dir))
    h = md5_long_sql("trim(ln)", salt="cl:")
    sql = f"""
WITH t AS ({_LINE_AUG_SQL}),
lines AS (
    SELECT doc_id,
           unnest(string_split(txt, chr(10))) AS ln,
           generate_subscripts(string_split(txt, chr(10)), 1) - 1 AS idx
    FROM t
),
elig AS (
    SELECT doc_id, idx, {h} AS hsh
    FROM lines WHERE length(trim(ln)) >= 10
),
marked AS (
    SELECT doc_id, idx,
           ROW_NUMBER() OVER (PARTITION BY hsh ORDER BY doc_id, idx) AS rn
    FROM elig
),
drops AS (
    SELECT doc_id, list(idx ORDER BY idx) AS di, COUNT(*) AS nd
    FROM marked WHERE rn > 1 GROUP BY doc_id
)
SELECT t.doc_id,
       CASE WHEN d.di IS NULL THEN t.txt
            ELSE array_to_string(
                list_filter(string_split(t.txt, chr(10)),
                            (x, i) -> NOT list_contains(d.di, i - 1)),
                chr(10)) END AS text,
       COALESCE(d.nd, 0) AS n_dup_lines_removed
FROM t LEFT JOIN drops d USING (doc_id)
"""
    return sdf, sql


def x_pq(spark, con, sf_dir):
    """Product quantization fit→encode→ADC-top-k vs a numpy exact
    replica (same stride init, same argmin tie-break, same early stop
    — the x_semantic_dedup contract).  Returns (rows, rows)."""
    import numpy as np

    from qualityassurancetool_spark.operators.pq import (
        adc_tables,
        pq_encode,
        pq_fit,
        pq_topk,
    )
    from qualityassurancetool_spark.schema import load_table

    M, K, ITER, TOPK = 4, 16, 4, 10
    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_fit(emb, m=M, k=K, max_iter=ITER)
    codes = pq_encode(emb, books)
    queries = (
        emb.where(F.col("vec_id") % 100 == 0)
        .orderBy("vec_id")
        .limit(8)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    got = pq_topk(codes, queries, books, k=TOPK)
    s_rows = [
        (r["query_id"], r["neighbor_id"], round(r["adc_dist"], 6))
        for r in got.collect()
    ]

    # ---- numpy replica
    rows = sorted(
        (int(r[0]), np.array(r[1], dtype=np.float64))
        for r in emb.select("vec_id", "embedding").collect()
    )
    ids = np.array([r[0] for r in rows])
    X = np.stack([r[1] for r in rows])
    dim = X.shape[1]
    w = dim // M
    np_books = []
    for s in range(M):
        Xs = X[:, s * w : (s + 1) * w]
        init_ids = ids[ids % 20 == 0][:K]
        cents = Xs[np.isin(ids, init_ids)][:K].copy()
        for _ in range(ITER):
            d = ((Xs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)  # first min == smallest cid
            new = cents.copy()
            for c in range(K):
                mask = assign == c
                if mask.any():
                    new[c] = Xs[mask].mean(axis=0)
            if np.array_equal(new, cents):
                break
            cents = new
        np_books.append(cents)
    # encode + ADC per query
    codes_np = np.stack(
        [
            (
                (X[:, s * w : (s + 1) * w][:, None, :] - np_books[s][None])
                ** 2
            )
            .sum(axis=2)
            .argmin(axis=1)
            for s in range(M)
        ],
        axis=1,
    )
    d_rows = []
    qs = [
        (int(r[0]), [float(x) for x in r[1]])
        for r in queries.collect()
    ]
    books_list = [[list(map(float, c)) for c in b] for b in np_books]
    for qid, qv in qs:
        dt = np.array(adc_tables(qv, books_list))
        dists = dt[
            (np.arange(M)[None, :] * K + codes_np).reshape(len(ids), M)
        ].sum(axis=1)
        order = np.lexsort((ids, dists))[:TOPK]
        for i in order:
            d_rows.append((qid, int(ids[i]), round(float(dists[i]), 6)))
    return s_rows, d_rows


def x_opq(spark, con, sf_dir):
    """OPQ encode+search vs a numpy replica.  R and the codebooks come
    FROM the Spark fit (plain lists — the k-means math is pinned by
    x_pq); the replica independently re-derives the rotation matmul,
    per-subspace argmin encode, ADC scoring and the (dist, id)
    lexicographic top-k over the distributed encode/search path.
    Returns (rows, rows)."""
    import numpy as np

    from qualityassurancetool_spark.operators.opq import (
        opq_encode,
        opq_fit,
        opq_topk,
    )
    from qualityassurancetool_spark.operators.pq import adc_tables
    from qualityassurancetool_spark.schema import load_table

    M, K, TOPK = 4, 16, 10
    emb = load_table(spark, sf_dir, "embeddings")
    R, books = opq_fit(emb, m=M, k=K, opq_iters=2, lloyd_iters=3)
    coded = opq_encode(emb, R, books)
    queries = (
        emb.where(F.col("vec_id") % 100 == 3)
        .orderBy("vec_id")
        .limit(8)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    got = opq_topk(coded, queries, R, books, k=TOPK)
    s_rows = [
        (r["query_id"], r["neighbor_id"], round(r["adc_dist"], 6))
        for r in got.collect()
    ]

    rows = sorted(
        (int(r[0]), np.array(r[1], dtype=np.float64))
        for r in emb.select("vec_id", "embedding").collect()
    )
    ids = np.array([r[0] for r in rows])
    X = np.stack([r[1] for r in rows])
    Rm = np.array(R, dtype=np.float64)
    Xr = X @ Rm.T  # rotate_vectors: out = R @ vec per row
    dim = Xr.shape[1]
    w = dim // M
    np_books = [np.array(b, dtype=np.float64) for b in books]
    codes_np = np.stack(
        [
            (
                (Xr[:, s * w : (s + 1) * w][:, None, :] - np_books[s][None])
                ** 2
            )
            .sum(axis=2)
            .argmin(axis=1)
            for s in range(M)
        ],
        axis=1,
    )
    d_rows = []
    for qid, qv in (
        (int(r[0]), np.array(r[1], dtype=np.float64))
        for r in queries.collect()
    ):
        rq = [float(x) for x in (Rm @ qv)]
        dt = np.array(adc_tables(rq, books))
        dists = dt[
            (np.arange(M)[None, :] * K + codes_np).reshape(len(ids), M)
        ].sum(axis=1)
        order = np.lexsort((ids, dists))[:TOPK]
        for i in order:
            d_rows.append((qid, int(ids[i]), round(float(dists[i]), 6)))
    return s_rows, d_rows


def x_ivfadc(spark, con, sf_dir):
    """IVFADC index+search vs a numpy replica.  The coarse centroids
    and residual codebooks come FROM the Spark fit (plain lists — fit
    math is already pinned by x_pq/x_semantic_dedup); the replica
    independently re-derives assignment, residual encode, probed
    lists, and ADC scoring.  Returns (rows, rows)."""
    import numpy as np

    from qualityassurancetool_spark.operators.pq import (
        adc_tables,
        ivfadc_fit,
        ivfadc_index,
        ivfadc_topk,
    )
    from qualityassurancetool_spark.schema import load_table

    NL, M, K, TOPK, NPROBE = 8, 4, 16, 10, 3
    emb = load_table(spark, sf_dir, "embeddings")
    cents, books = ivfadc_fit(emb, n_lists=NL, m=M, k=K, max_iter=3)
    index = ivfadc_index(emb, cents, books)
    queries = (
        emb.where(F.col("vec_id") % 100 == 0)
        .orderBy("vec_id")
        .limit(8)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    got = ivfadc_topk(index, queries, cents, books, k=TOPK, nprobe=NPROBE)
    s_rows = [
        (r["query_id"], r["neighbor_id"], round(r["adc_dist"], 6))
        for r in got.collect()
    ]

    rows = sorted(
        (int(r[0]), np.array(r[1], dtype=np.float64))
        for r in emb.select("vec_id", "embedding").collect()
    )
    ids = np.array([r[0] for r in rows])
    X = np.stack([r[1] for r in rows])
    C = np.stack([np.array(v) for _, v in cents])
    dim = X.shape[1]
    w = dim // M
    # coarse assignment (argmin = smallest cid on ties)
    dcoarse = ((X[:, None, :] - C[None]) ** 2).sum(axis=2)
    assign = dcoarse.argmin(axis=1)
    resid = X - C[assign]
    np_books = [np.stack([np.array(c) for c in b]) for b in books]
    codes_np = np.stack(
        [
            ((resid[:, s * w : (s + 1) * w][:, None, :]
              - np_books[s][None]) ** 2).sum(axis=2).argmin(axis=1)
            for s in range(M)
        ],
        axis=1,
    )
    d_rows = []
    for r in queries.collect():
        qid, qv = int(r[0]), np.array(r[1], dtype=np.float64)
        qd = ((qv[None] - C) ** 2).sum(axis=1)
        probe = np.lexsort((np.arange(NL), qd))[:NPROBE]
        cand = np.isin(assign, probe)
        dists = np.full(len(ids), np.inf)
        for cid in probe:
            in_list = assign == cid
            if not in_list.any():
                continue
            rq = (qv - C[cid]).tolist()
            dt = np.array(adc_tables(rq, [b.tolist() for b in np_books]))
            dists[in_list] = dt[
                (np.arange(M)[None, :] * K + codes_np[in_list])
            ].sum(axis=1)
        order = np.lexsort((ids[cand], dists[cand]))[:TOPK]
        cids_, cds_ = ids[cand], dists[cand]
        for i in order:
            d_rows.append((qid, int(cids_[i]), round(float(cds_[i]), 6)))
    return s_rows, d_rows


def x_heavy_hitters(spark, con, sf_dir):
    """token_heavy_hitters (two-pass Misra–Gries candidates + exact
    verification count) vs a plain DuckDB GROUP BY / HAVING over the
    same normalized token stream — the two-pass design is EXACT by
    construction, so the oracle is the straightforward one."""
    from qualityassurancetool_spark.operators.heavy_hitters import (
        token_heavy_hitters,
    )

    FRAC = 0.004
    sdf = token_heavy_hitters(_docs(spark, sf_dir), min_fraction=FRAC)
    sql = f"""
WITH tok AS (
    SELECT unnest(string_split({_NORM}, ' ')) AS token FROM documents
),
nz AS (SELECT token FROM tok WHERE length(token) > 0),
tot AS (SELECT COUNT(*) AS total FROM nz)
SELECT token, COUNT(*) AS n
FROM nz, tot
GROUP BY token, total
HAVING COUNT(*) >= total * {FRAC}
"""
    return sdf, sql


def x_interval_join(spark, con, sf_dir):
    """interval_lookup (bucketed point-in-interval equi-join) vs a plain
    DuckDB BETWEEN join: orders priced into 100 overlapping price bands
    (width 6000, stride 4000 — every point can hit 1-2 bands), rolled up
    to order-insensitive per-band stats."""
    from qualityassurancetool_spark.operators.interval_join import (
        interval_lookup,
    )
    from qualityassurancetool_spark.schema import load_table

    bands = spark.range(100).select(
        F.col("id").alias("band_id"),
        (F.col("id") * 4000.0).alias("lo"),
        (F.col("id") * 4000.0 + 6000.0).alias("hi"),
    )
    pts = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    joined = interval_lookup(
        pts,
        bands,
        "o_totalprice",
        bucket_width=4000.0,
        broadcast_intervals=True,
    )
    sdf = joined.groupBy("band_id").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )
    sql = """
WITH bands AS (
    SELECT i AS band_id, i * 4000.0 AS lo, i * 4000.0 + 6000.0 AS hi
    FROM generate_series(0, 99) t(i)
)
SELECT band_id, COUNT(*) AS n_orders,
       MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
FROM orders JOIN bands ON o_totalprice BETWEEN lo AND hi
GROUP BY band_id
"""
    return sdf, sql


def x_zorder(spark, con, sf_dir):
    """zorder_key (clamped grid quantization + magic-mask Morton
    interleave, pure bit arithmetic) vs the SQL rendering of the SAME
    expression in DuckDB — bit-identical by construction, over orders
    (o_totalprice x o_custkey)."""
    from qualityassurancetool_spark.functions.zorder import (
        zorder_key,
        zorder_key_sql,
    )
    from qualityassurancetool_spark.schema import load_table

    XR, YR, BITS = (0.0, 600000.0), (0.0, 150000.0), 16
    sdf = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        zorder_key(
            F.col("o_totalprice"), XR, F.col("o_custkey"), YR, bits=BITS
        ).alias("zkey"),
    )
    zsql = zorder_key_sql("o_totalprice", XR, "o_custkey", YR, bits=BITS)
    sql = f"SELECT o_orderkey, {zsql} AS zkey FROM orders"
    return sdf, sql


def x_pagerank(spark, con, sf_dir):
    """pagerank (synchronous damped iteration, dangling redistribution)
    vs the chained-CTE SQL replica, on a deterministic synthetic link
    graph over documents: doc i links to (7i+3) mod N and (13i+5) mod N.
    Double sums agree cross-engine to ~1e-12 relative; ranks rounded to
    8 dp, -0.0-normalized."""
    from qualityassurancetool_spark.operators.graph import (
        pagerank,
        pagerank_sql,
    )
    from qualityassurancetool_spark.schema import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    n_docs = docs.count()
    ITERS = 5
    edges = docs.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 7 + 3) % n_docs).alias("dst"),
    ).union(
        docs.select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") * 13 + 5) % n_docs).alias("dst"),
        )
    )
    sdf = pagerank(edges, iters=ITERS).select(
        "node", (F.round("rank", 8) + F.lit(0.0)).alias("rank_r")
    )
    edges_cte = (
        f"SELECT doc_id AS src, (doc_id * 7 + 3) % {n_docs} AS dst"
        " FROM documents UNION ALL "
        f"SELECT doc_id, (doc_id * 13 + 5) % {n_docs} FROM documents"
    )
    return sdf, pagerank_sql(edges_cte, iters=ITERS)


def x_robust_outlier(spark, con, sf_dir):
    """robust_outlier_flags (exact-percentile median/MAD robust z) vs
    the DuckDB quantile_cont replica, per event_type over events.value."""
    from qualityassurancetool_spark.operators.robust import (
        robust_outlier_flags,
        robust_outlier_sql,
    )
    from qualityassurancetool_spark.schema import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    sdf = robust_outlier_flags(ev, "value", "event_type").select(
        "event_id",
        "event_type",
        (F.round("robust_z", 6) + F.lit(0.0)).alias("robust_z_r"),
        "is_outlier",
    )
    sql = robust_outlier_sql("events", "value", "event_type", "event_id")
    return sdf, sql


def x_scd2(spark, con, sf_dir):
    """scd2_lookup (point-in-time dimension join, half-open intervals)
    vs a plain SQL key+BETWEEN join: customers versioned into three
    800-day validity windows (last one open-ended), orders joined at
    o_orderdate."""
    from qualityassurancetool_spark.operators.scd import scd2_lookup
    from qualityassurancetool_spark.schema import load_table

    cust = load_table(spark, sf_dir, "customer")
    vers = spark.range(3).select(F.col("id").alias("v"))
    dim = cust.crossJoin(vers).select(
        F.col("c_custkey").alias("k"),
        F.date_add(F.lit("1992-01-01").cast("date"), (F.col("v") * 800).cast("int")).alias(
            "valid_from"
        ),
        F.when(
            F.col("v") < 2,
            F.date_add(
                F.lit("1992-01-01").cast("date"),
                ((F.col("v") + 1) * 800).cast("int"),
            ),
        )
        .otherwise(F.lit("9999-12-31").cast("date"))
        .alias("valid_to"),
        F.concat_ws("#", F.col("c_mktsegment"), F.col("v")).alias(
            "seg_version"
        ),
    )
    facts = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("k"), "o_orderdate"
    )
    sdf = scd2_lookup(facts, dim, "k", "o_orderdate").select(
        "o_orderkey", "seg_version"
    )
    sql = """
WITH dim AS (
    SELECT c_custkey AS k,
           DATE '1992-01-01' + INTERVAL (v * 800) DAY AS valid_from,
           CASE WHEN v < 2
                THEN DATE '1992-01-01' + INTERVAL ((v + 1) * 800) DAY
                ELSE DATE '9999-12-31' END AS valid_to,
           c_mktsegment || '#' || v AS seg_version
    FROM customer, generate_series(0, 2) t(v)
)
SELECT o_orderkey, seg_version
FROM orders LEFT JOIN dim
  ON o_custkey = dim.k
 AND o_orderdate >= dim.valid_from AND o_orderdate < dim.valid_to
"""
    return sdf, sql


def x_semantic_decontam(spark, con, sf_dir):
    """semantic_decontaminate (benchmark matrix literal, row-local max
    cosine) vs a DuckDB cross-join max(list_cosine_similarity) — the
    join-free literal fold must equal the naive cross join."""
    from qualityassurancetool_spark.operators.decontam import (
        semantic_decontaminate,
    )
    from qualityassurancetool_spark.schema import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    bench_rows = (
        emb.where(F.col("vec_id") % 40 == 0)
        .select("vec_id", "embedding")
        .collect()
    )
    bench = [(int(r[0]), [float(x) for x in r[1]]) for r in bench_rows]
    corpus = emb.where(F.col("vec_id") % 40 != 0)
    sdf = semantic_decontaminate(
        corpus, bench, threshold=0.9, strategy="column"
    ).select(
        "vec_id",
        (F.round("max_sim", 5) + F.lit(0.0)).alias("max_sim_r"),
        "matched_bench_id",
        "contaminated",
    )
    sql = """
WITH bench AS (
    SELECT vec_id AS bid, CAST(embedding AS DOUBLE[]) AS bvec
    FROM embeddings WHERE vec_id % 40 = 0
),
scored AS (
    SELECT c.vec_id, b.bid,
           list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), b.bvec)
               AS sim
    FROM embeddings c CROSS JOIN bench b
    WHERE c.vec_id % 40 != 0
),
best AS (
    SELECT vec_id, MAX(sim) AS max_sim FROM scored GROUP BY vec_id
)
SELECT s.vec_id, round(b.max_sim, 5) + 0.0 AS max_sim_r,
       MIN(s.bid) AS matched_bench_id,
       b.max_sim >= 0.9 AS contaminated
FROM scored s JOIN best b ON s.vec_id = b.vec_id AND s.sim = b.max_sim
GROUP BY s.vec_id, b.max_sim
"""
    return sdf, sql


def x_skew_report(spark, con, sf_dir):
    """key_skew_report (shuffle-health diagnostic) vs a plain SQL
    replica over lineitem.l_orderkey (naturally 1-7 rows per key)."""
    from qualityassurancetool_spark.operators.skew import key_skew_report
    from qualityassurancetool_spark.schema import load_table

    li = load_table(spark, sf_dir, "lineitem")
    sdf = key_skew_report(li, "l_orderkey").select(
        "n_rows",
        "n_keys",
        "max_count",
        (F.round("avg_count", 6) + F.lit(0.0)).alias("avg_r"),
        (F.round("p50_count", 6) + F.lit(0.0)).alias("p50_r"),
        (F.round("p99_count", 6) + F.lit(0.0)).alias("p99_r"),
        (F.round("skew_ratio", 6) + F.lit(0.0)).alias("skew_r"),
    )
    sql = """
WITH c AS (
    SELECT l_orderkey, COUNT(*) AS c FROM lineitem
    WHERE l_orderkey IS NOT NULL GROUP BY l_orderkey
)
SELECT SUM(c) AS n_rows, COUNT(*) AS n_keys, MAX(c) AS max_count,
       round(SUM(c) / COUNT(*), 6) + 0.0 AS avg_r,
       round(quantile_cont(c, 0.5), 6) + 0.0 AS p50_r,
       round(quantile_cont(c, 0.99), 6) + 0.0 AS p99_r,
       round(MAX(c) / (SUM(c) / COUNT(*)), 6) + 0.0 AS skew_r
FROM c
"""
    return sdf, sql


def x_fuzzy_join(spark, con, sf_dir):
    """fuzzy_string_join (q-gram Jaccard set-similarity join) vs a
    DuckDB replica with the same padded-gram definition, over document
    text prefixes from two overlapping slices."""
    from qualityassurancetool_spark.operators.fuzzy_join import (
        fuzzy_string_join,
    )

    docs = _docs(spark, sf_dir)
    left = docs.where(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("left_id"),
        F.substring("text", 1, 40).alias("s"),
    )
    right = docs.where(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("right_id"),
        F.substring("text", 1, 40).alias("t"),
    )
    sdf = fuzzy_string_join(
        left, right, "s", "t", threshold=0.5, max_df=None
    ).select(
        "left_id",
        "right_id",
        "n_common",
        (F.round("jaccard", 6) + F.lit(0.0)).alias("jaccard_r"),
    )
    # same normalize + \x01 sentinel strip as operators.fuzzy_join.qgrams
    norm = (
        "replace(trim(regexp_replace(lower(substr(text, 1, 40)),"
        " '\\s+', ' ', 'g')), chr(1), '')"
    )
    sql = f"""
WITH l0 AS (
    SELECT doc_id AS id, repeat(chr(1), 2) || {norm} || repeat(chr(1), 2)
        AS p FROM documents WHERE doc_id % 7 = 0
),
r0 AS (
    SELECT doc_id AS id, repeat(chr(1), 2) || {norm} || repeat(chr(1), 2)
        AS p FROM documents WHERE doc_id % 5 = 0
),
lg AS (
    SELECT DISTINCT id,
           unnest(list_transform(generate_series(1, length(p) - 2),
                                 i -> substr(p, i, 3))) AS gram
    FROM l0
),
rg AS (
    SELECT DISTINCT id,
           unnest(list_transform(generate_series(1, length(p) - 2),
                                 i -> substr(p, i, 3))) AS gram
    FROM r0
),
ln AS (SELECT id, COUNT(*) AS n FROM lg GROUP BY id),
rn AS (SELECT id, COUNT(*) AS n FROM rg GROUP BY id),
common AS (
    SELECT lg.id AS lid, rg.id AS rid, COUNT(*) AS n_common
    FROM lg JOIN rg USING (gram) GROUP BY lg.id, rg.id
)
SELECT c.lid AS left_id, c.rid AS right_id, c.n_common,
       round(c.n_common * 1.0 / (ln.n + rn.n - c.n_common), 6) + 0.0
           AS jaccard_r
FROM common c JOIN ln ON c.lid = ln.id JOIN rn ON c.rid = rn.id
WHERE c.n_common * 1.0 / (ln.n + rn.n - c.n_common) >= 0.5
"""
    return sdf, sql


def x_histogram(spark, con, sf_dir):
    """value_histogram (fixed-width clamped bins, one partial-agg) vs
    the SQL replica — events.value per event_type."""
    from qualityassurancetool_spark.plans.corpus_report import (
        value_histogram,
    )
    from qualityassurancetool_spark.schema import load_table

    ev = load_table(spark, sf_dir, "events")
    sdf = value_histogram(
        ev, "value", lo=0.0, hi=500.0, n_bins=25, group_col="event_type"
    ).select(
        "event_type",
        "bin_id",
        (F.round("bin_lo", 6) + F.lit(0.0)).alias("bin_lo_r"),
        (F.round("bin_hi", 6) + F.lit(0.0)).alias("bin_hi_r"),
        "n",
    )
    sql = """
WITH b AS (
    SELECT event_type,
           CAST(greatest(0, least(24,
               floor((value - 0.0) / 500.0 * 25))) AS INT) AS bin_id
    FROM events WHERE value IS NOT NULL
)
SELECT event_type, bin_id,
       round(0.0 + bin_id * 20.0, 6) + 0.0 AS bin_lo_r,
       round(0.0 + (bin_id + 1) * 20.0, 6) + 0.0 AS bin_hi_r,
       COUNT(*) AS n
FROM b GROUP BY event_type, bin_id
"""
    return sdf, sql


def x_l2_normalize(spark, con, sf_dir):
    """l2_normalize (barrier-staged fold norm + transform divide) vs
    DuckDB list arithmetic on the same embeddings."""
    from qualityassurancetool_spark.operators.similarity import (
        l2_normalize,
    )
    from qualityassurancetool_spark.schema import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    sdf = l2_normalize(emb).select(
        "vec_id",
        F.round(
            F.aggregate(
                "embedding", F.lit(0.0), lambda a, x: a + x * x
            ),
            6,
        ).alias("unit_norm_sq"),
        (F.round(F.element_at("embedding", 1), 6) + F.lit(0.0)).alias(
            "first_r"
        ),
    )
    sql = """
WITH u AS (
    SELECT vec_id,
           list_transform(CAST(embedding AS DOUBLE[]),
               x -> x / sqrt(list_sum(list_transform(
                   CAST(embedding AS DOUBLE[]), y -> y * y)))) AS unit
    FROM embeddings
)
SELECT vec_id,
       round(list_sum(list_transform(unit, x -> x * x)), 6)
           AS unit_norm_sq,
       round(unit[1], 6) + 0.0 AS first_r
FROM u
"""
    return sdf, sql


def x_time_split(spark, con, sf_dir):
    """split_by_time (embargoed temporal split) vs a CASE replica over
    events: 12h embargo after the train boundary."""
    from qualityassurancetool_spark.operators.sampling import (
        split_by_time,
    )
    from qualityassurancetool_spark.schema import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    sdf = split_by_time(
        ev, "ts", "2024-01-15 00:00:00", embargo="12 hours"
    ).select("event_id", "split")
    sql = """
SELECT event_id,
       CASE WHEN ts IS NULL THEN NULL
            WHEN ts < TIMESTAMP '2024-01-15 00:00:00' THEN 'train'
            WHEN ts < TIMESTAMP '2024-01-15 12:00:00' THEN 'embargo'
            ELSE 'test' END AS split
FROM events
"""
    return sdf, sql


def x_unicode_nfc(spark, con, sf_dir):
    """normalize_documents(NFC) — the Arrow pandas kernel — vs DuckDB's
    native nfc_normalize, on docs augmented with decomposed accents,
    precomposed forms, and control characters."""
    from qualityassurancetool_spark.operators.unicode_norm import (
        normalize_documents,
    )

    # e + COMBINING ACUTE, A + COMBINING RING, a BEL control char,
    # ANGSTROM SIGN (U+212B, NFC-normalizes to U+00C5) — the Spark
    # literal is built from the SAME codepoints as the DuckDB chr()
    # concatenation below (decomposed forms, NOT precomposed)
    raw = " cafe\u0301 A\u030a x\x07y \u212b#"
    aug = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(raw), F.col("doc_id").cast("string")
        ).alias("text"),
    )
    sdf = normalize_documents(aug, form="NFC").select("doc_id", "text")
    sql = """
WITH t AS (
    SELECT doc_id,
           text || ' cafe' || chr(769) || ' A' || chr(778) || ' x'
                || chr(7) || 'y ' || chr(8491) || '#'
                || CAST(doc_id AS VARCHAR) AS txt
    FROM documents
)
SELECT doc_id,
       regexp_replace(nfc_normalize(txt),
           '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f-\\x9f]', '', 'g')
           AS text
FROM t
"""
    return sdf, sql


def x_ngram_topk(spark, con, sf_dir):
    """top_kgrams (corpus-wide frequent k-grams by document frequency)
    vs a DuckDB list_transform re-implementation with the same shingle
    convention and tie-break."""
    from qualityassurancetool_spark.operators.ngram_stats import top_kgrams

    K, TOP = 3, 150
    sdf = top_kgrams(_docs(spark, sf_dir), k=K, top=TOP)
    sql = f"""
WITH base AS (SELECT doc_id, {_NORM} AS norm FROM documents),
tok AS (SELECT doc_id, string_split(norm, ' ') AS t FROM base),
sh AS (
    SELECT doc_id,
           list_distinct(list_transform(
               generate_series(1, greatest(len(t) - {K - 1}, 1)),
               i -> array_to_string(t[i:i + {K - 1}], ' '))) AS g
    FROM tok
),
gx AS (SELECT doc_id, unnest(g) AS gram FROM sh),
counts AS (
    SELECT gram, COUNT(*) AS n_docs FROM gx
    WHERE length(gram) > 0 GROUP BY gram
)
SELECT gram, n_docs FROM counts ORDER BY n_docs DESC, gram LIMIT {TOP}
"""
    return sdf, sql


def x_snapshot_diff(spark, con, sf_dir):
    """snapshot_diff vs a DuckDB full-outer digest join on an augmented
    'new' snapshot: drop doc_id%10==0 (removed), edit %7 (changed),
    append shifted ids (added)."""
    from qualityassurancetool_spark.operators.snapshot import snapshot_diff

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    new = docs.where(F.col("doc_id") % 10 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(" edited tail")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    ).unionByName(
        docs.where(F.col("doc_id") < 25).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    sdf = snapshot_diff(docs, new)
    sql = f"""
WITH old AS (SELECT doc_id, md5({_NORM}) AS dg FROM documents),
newt AS (
    SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 THEN text || ' edited tail'
                ELSE text END AS text
    FROM documents WHERE doc_id % 10 != 0
    UNION ALL
    SELECT doc_id + 100000, text FROM documents WHERE doc_id < 25
),
newd AS (SELECT doc_id, md5({_NORM}) AS dg FROM newt)
SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.dg IS NULL THEN 'added'
            WHEN n.dg IS NULL THEN 'removed'
            WHEN o.dg != n.dg THEN 'changed'
            ELSE 'unchanged' END AS status
FROM old o FULL OUTER JOIN newd n USING (doc_id)
"""
    return sdf, sql


def x_corpus_report(spark, con, sf_dir):
    """corpus_report (dataset-card long frame) vs a DuckDB UNION-ALL
    re-implementation: same normalization/tokens/digests, same
    percentile interpolation, same lang-share math."""
    from qualityassurancetool_spark.operators.quality_filters import (
        EMAIL_PAT,
        IPV4_PAT,
        PHONE_PAT,
        SYMBOL_PAT,
    )
    from qualityassurancetool_spark.plans.corpus_report import corpus_report

    sdf = corpus_report(_docs(spark, sf_dir)).select(
        "metric", (F.round("value", 6) + F.lit(0.0)).alias("value_r")
    )
    cnt = "len(regexp_extract_all(lt, '{p}'))"
    pii_any = " + ".join(
        cnt.format(p=p) for p in (EMAIL_PAT, PHONE_PAT, IPV4_PAT)
    )
    sql = f"""
WITH base AS (
    SELECT doc_id, lang, text, lower(text) AS lt, {_NORM} AS norm
    FROM documents
),
per AS (
    SELECT doc_id, lang,
           {_NTOK} AS n_tokens,
           length(text) AS n_chars,
           CASE WHEN length(lt) > 0
                THEN CAST(len(regexp_extract_all(lt, '{SYMBOL_PAT}'))
                     AS DOUBLE) / length(lt)
                ELSE 0.0 END AS sym,
           CASE WHEN len(string_split(text, chr(10))) > 0
                THEN 1.0 - CAST(len(list_distinct(string_split(text,
                     chr(10)))) AS DOUBLE)
                     / len(string_split(text, chr(10)))
                ELSE 0.0 END AS dupl,
           CASE WHEN ({pii_any}) > 0 THEN 1.0 ELSE 0.0 END AS has_pii,
           md5(norm) AS digest
    FROM base
),
g AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS docs,
           CAST(SUM(n_tokens) AS DOUBLE) AS total_tokens,
           CAST(SUM(n_chars) AS DOUBLE) AS total_chars,
           AVG(CAST(n_tokens AS DOUBLE)) AS avg_tokens_per_doc,
           CAST(COUNT(DISTINCT digest) AS DOUBLE) AS n_distinct,
           AVG(has_pii) AS pii_doc_rate,
           quantile_cont(sym, [0.1, 0.5, 0.9]) AS q_sym,
           quantile_cont(dupl, [0.1, 0.5, 0.9]) AS q_dup,
           quantile_cont(CAST(n_tokens AS DOUBLE), [0.1, 0.5, 0.9]) AS q_tok
    FROM per
),
u AS (
    SELECT 'docs' AS metric, docs AS value FROM g
    UNION ALL SELECT 'total_tokens', total_tokens FROM g
    UNION ALL SELECT 'total_chars', total_chars FROM g
    UNION ALL SELECT 'avg_tokens_per_doc', avg_tokens_per_doc FROM g
    UNION ALL SELECT 'pii_doc_rate', pii_doc_rate FROM g
    UNION ALL SELECT 'exact_dup_rate', 1.0 - n_distinct / docs FROM g
    UNION ALL SELECT 'symbol_ratio_p10', q_sym[1] FROM g
    UNION ALL SELECT 'symbol_ratio_p50', q_sym[2] FROM g
    UNION ALL SELECT 'symbol_ratio_p90', q_sym[3] FROM g
    UNION ALL SELECT 'dup_line_fraction_p10', q_dup[1] FROM g
    UNION ALL SELECT 'dup_line_fraction_p50', q_dup[2] FROM g
    UNION ALL SELECT 'dup_line_fraction_p90', q_dup[3] FROM g
    UNION ALL SELECT 'n_tokens_p10', q_tok[1] FROM g
    UNION ALL SELECT 'n_tokens_p50', q_tok[2] FROM g
    UNION ALL SELECT 'n_tokens_p90', q_tok[3] FROM g
    UNION ALL
    SELECT 'lang_share:' || lang,
           CAST(COUNT(*) AS DOUBLE) / (SELECT docs FROM g)
    FROM per GROUP BY lang
)
SELECT metric, round(value, 6) + 0.0 AS value_r FROM u
"""
    return sdf, sql


def x_bloom(spark, con, sf_dir):
    """Bloom build+probe vs a DuckDB bit-SET re-implementation (same
    md5 double-hash positions; packing-independent semantics): every
    probe's might_contain must match, INCLUDING the false positives —
    same hash math ⇒ same collisions in both engines."""
    from qualityassurancetool_spark.operators.bloom import (
        bloom_parameters,
        build_bloom,
        with_might_contain,
    )

    docs = _docs(spark, sf_dir)
    keys = docs.where(F.col("doc_id") % 3 == 0).select(
        F.concat(F.lit("k"), F.col("doc_id").cast("string")).alias("v")
    )
    m_bits, k = bloom_parameters(keys.count(), fpp=0.05)
    words = build_bloom(keys, "v", m_bits, k)
    probe = docs.select(
        "doc_id",
        F.concat(F.lit("k"), F.col("doc_id").cast("string")).alias("v"),
    )
    sdf = with_might_contain(probe, "v", words, k).select("doc_id", "might")
    h1 = (
        "CAST(concat('0x', substring(md5('bf:' || v), 1, 15)) AS BIGINT)"
    )
    h2 = (
        "CAST(concat('0x', substring(md5('bf:' || v), 17, 15)) AS BIGINT)"
    )
    sql = f"""
WITH keys AS (
    SELECT 'k' || CAST(doc_id AS VARCHAR) AS v
    FROM documents WHERE doc_id % 3 = 0
),
probe AS (
    SELECT doc_id, 'k' || CAST(doc_id AS VARCHAR) AS v FROM documents
),
kh AS (SELECT {h1} % {m_bits} AS h1,
              {h2} % {m_bits - 1} + 1 AS h2 FROM keys),
bits AS (
    SELECT DISTINCT (h1 + r.range * h2) % {m_bits} AS pos
    FROM kh, range(0, {k}) r
),
ph AS (SELECT doc_id, {h1} % {m_bits} AS h1,
              {h2} % {m_bits - 1} + 1 AS h2 FROM probe),
pp AS (
    SELECT doc_id, (h1 + r.range * h2) % {m_bits} AS pos
    FROM ph, range(0, {k}) r
),
miss AS (
    SELECT DISTINCT doc_id
    FROM pp LEFT JOIN bits USING (pos) WHERE bits.pos IS NULL
)
SELECT p.doc_id, (m.doc_id IS NULL) AS might
FROM probe p LEFT JOIN miss m USING (doc_id)
"""
    return sdf, sql


def x_dsir(spark, con, sf_dir):
    """DSIR importance resampling (Xie et al. 2023): fit hashed uni+bigram
    bucket models for target (lang='en') vs raw (all docs), score every
    doc with the log-ratio sum, Gumbel-top-k select — the FULL
    fit→score→select chain re-implemented in DuckDB (same md5 buckets,
    same Laplace smoothing, same md5-uniform Gumbel noise)."""
    from qualityassurancetool_spark.functions.hashing import md5_long_sql
    from qualityassurancetool_spark.operators.dsir import (
        dsir_resample,
        fit_log_ratio,
    )

    B, K = 2048, 200
    docs = _docs(spark, sf_dir)
    lr = fit_log_ratio(
        raw=docs,
        target=docs.where(F.col("lang") == "en"),
        n_buckets=B,
        smoothing=1.0,
    )
    sel = dsir_resample(docs, lr, k=K)
    sdf = sel.select(
        "doc_id",
        "n_features",
        (F.round("dsir_score", 6) + F.lit(0.0)).alias("score_r"),
        (F.round("dsir_key", 6) + F.lit(0.0)).alias("key_r"),
    )
    mb = md5_long_sql("g", salt="dsir:")
    mg = md5_long_sql("CAST(doc_id AS VARCHAR)", salt="dsir-g:")
    sql = f"""
WITH docs AS (SELECT doc_id, lang, {_NORM} AS norm FROM documents),
tok AS (
    SELECT doc_id, lang,
           list_filter(string_split(norm, ' '), t -> length(t) > 0) AS t
    FROM docs
),
grams AS (
    SELECT doc_id, lang,
           list_concat(t,
               CASE WHEN len(t) >= 2
                    THEN list_transform(generate_series(1, len(t) - 1),
                                        i -> t[i] || ' ' || t[i + 1])
                    ELSE [] END) AS g
    FROM tok
),
fb AS (SELECT doc_id, lang, list_transform(g, g -> {mb} % {B}) AS b
       FROM grams),
fx AS (SELECT doc_id, lang, unnest(b) AS b FROM fb),
cp AS (SELECT b, COUNT(*) AS n FROM fx WHERE lang = 'en' GROUP BY b),
cq AS (SELECT b, COUNT(*) AS n FROM fx GROUP BY b),
tot AS (SELECT
    CAST((SELECT COALESCE(SUM(n), 0) FROM cp) AS DOUBLE) + 1.0 * {B} AS np,
    CAST((SELECT COALESCE(SUM(n), 0) FROM cq) AS DOUBLE) + 1.0 * {B} AS nq),
lam AS (
    SELECT r.range AS b,
           ln((COALESCE(cp.n, 0) + 1.0) / (SELECT np FROM tot))
         - ln((COALESCE(cq.n, 0) + 1.0) / (SELECT nq FROM tot)) AS lr
    FROM range(0, {B}) r
    LEFT JOIN cp ON cp.b = r.range
    LEFT JOIN cq ON cq.b = r.range
),
sc AS (
    SELECT fx.doc_id, COUNT(*) AS nf, SUM(l.lr) AS s
    FROM fx JOIN lam l USING (b) GROUP BY fx.doc_id
),
scored AS (
    SELECT d.doc_id,
           COALESCE(sc.nf, 0) AS n_features,
           COALESCE(sc.s, 0.0) AS score
    FROM docs d LEFT JOIN sc USING (doc_id)
),
keyed AS (
    SELECT doc_id, n_features, score,
           score - ln(-ln((({mg}) + 1) / 1152921504606846978.0)) AS key
    FROM scored
)
SELECT doc_id, n_features, round(score, 6) + 0.0 AS score_r,
       round(key, 6) + 0.0 AS key_r
FROM keyed ORDER BY key DESC, doc_id LIMIT {K}
"""
    return sdf, sql


def x_badwords(spark, con, sf_dir):
    """Curation badwords rule (C4 bad-words page filter: whole-word /
    whole-phrase membership as pure Columns) vs the DuckDB replica."""
    from qualityassurancetool_spark.plans.curation import (
        CurationConfig,
        curate,
    )

    WORDS, PHRASE = ["scan", "merge"], "fast sort"
    cfg = CurationConfig.from_dict(
        {"badwords": WORDS + [PHRASE], "dedup": "none"}
    )
    sdf = curate(_docs(spark, sf_dir), cfg).select(
        "doc_id", "keep", "drop_reason"
    )
    wl = ", ".join(f"'{w}'" for w in WORDS)
    sql = f"""
WITH docs AS (SELECT doc_id, {_NORM} AS n FROM documents),
flag AS (
    SELECT doc_id,
           (len(list_intersect(string_split(n, ' '), [{wl}])) > 0
            OR (' ' || n || ' ') LIKE '% {PHRASE} %') AS hit
    FROM docs
)
SELECT doc_id, NOT hit AS keep,
       CASE WHEN hit THEN 'badwords' END AS drop_reason
FROM flag
"""
    return sdf, sql


def x_winsorize(spark, con, sf_dir):
    """winsorize (per-group exact-quantile clipping, broadcast
    join-back) vs the DuckDB quantile_cont replica over events.value
    per event_type."""
    from qualityassurancetool_spark.operators.robust import winsorize
    from qualityassurancetool_spark.schema import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    sdf = winsorize(ev, "value", "event_type", lo_q=0.05, hi_q=0.95).select(
        "event_id",
        "event_type",
        (F.round("value_wins", 6) + F.lit(0.0)).alias("wins_r"),
    )
    sql = """
WITH q AS (
    SELECT event_type,
           quantile_cont(value, 0.05) AS qlo,
           quantile_cont(value, 0.95) AS qhi
    FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type,
       round(least(greatest(e.value, q.qlo), q.qhi), 6) + 0.0 AS wins_r
FROM events e JOIN q USING (event_type)
"""
    return sdf, sql


def x_rrf(spark, con, sf_dir):
    """Hybrid retrieval fusion (operators/fusion.rrf_fuse): REAL sparse
    (bm25_topk) + dense (brute_force_topk cosine) shortlists over the
    aligned documents/embeddings tables, fused with RRF c=60 — vs a
    DuckDB replica of the rank derivation + reciprocal-rank sum over
    the SAME shortlists (both ends are independently oracled by the bm25
    and sim_topk rows; this pins the fusion arithmetic cross-engine)."""
    from qualityassurancetool_spark.functions.hashing import tokens
    from qualityassurancetool_spark.operators.bm25 import bm25_topk
    from qualityassurancetool_spark.operators.fusion import rrf_fuse
    from qualityassurancetool_spark.operators.similarity import (
        brute_force_topk,
    )
    from qualityassurancetool_spark.schema import load_table

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    q_ids = F.col("doc_id") % 100 == 0
    sparse = bm25_topk(
        docs,
        docs.where(q_ids).select(
            F.col("doc_id").alias("query_id"),
            F.array_join(
                F.slice(
                    F.filter(
                        tokens(F.col("text")), lambda t: F.length(t) > 0
                    ),
                    1,
                    5,
                ),
                " ",
            ).alias("query_text"),
        ),
        k=10,
    ).select("query_id", "doc_id", "score")
    dense = brute_force_topk(
        emb,
        emb.where(F.col("vec_id") % 100 == 0),
        k=10,
    ).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("cosine").alias("score"),
    )
    sdf = rrf_fuse(
        {"bm25": sparse, "ann": dense}, c=60.0, weights={"ann": 2.0}, k=10
    ).select(
        "query_id",
        "doc_id",
        (F.round("rrf_score", 9) + F.lit(0.0)).alias("rrf_r"),
        "n_sources",
    )
    con.register("rrf_sparse", sparse.toPandas())
    con.register("rrf_dense", dense.toPandas())
    sql = """
WITH tagged AS (
    SELECT query_id, doc_id,
           1.0 / (60 + row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, doc_id
           )) AS contrib
    FROM rrf_sparse
    UNION ALL
    SELECT query_id, doc_id,
           2.0 / (60 + row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, doc_id
           )) AS contrib
    FROM rrf_dense
),
fused AS (
    SELECT query_id, doc_id, SUM(contrib) AS rrf,
           CAST(COUNT(*) AS INT) AS n_sources
    FROM tagged GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, round(rrf, 9) + 0.0 AS rrf_r, n_sources
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY rrf DESC, doc_id
    ) AS rn FROM fused
)
WHERE rn <= 10
"""
    return sdf, sql


def x_gopher(spark, con, sf_dir):
    """Gopher A.1.1 page-filter signals + first-failed-rule verdicts
    (operators/quality_filters.gopher_signals/gopher_keep) vs a full
    DuckDB list-function replica."""
    from qualityassurancetool_spark.operators.quality_filters import (
        gopher_keep,
        gopher_signals,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    th = {"min_words": 20}  # sf docs are short; exercise the other rules
    sdf = gopher_keep(gopher_signals(docs), th).select(
        "doc_id",
        "n_words",
        (F.round("mean_word_len", 6) + F.lit(0.0)).alias("mwl_r"),
        (F.round("symbol_word_ratio", 6) + F.lit(0.0)).alias("swr_r"),
        (F.round("alpha_word_frac", 6) + F.lit(0.0)).alias("awf_r"),
        "stopword_hits",
        "gopher_fail",
        "keep",
    )
    stop = ", ".join(f"'{w}'" for w in
                     ["the", "be", "to", "of", "and", "that", "have",
                      "with"])
    sql = f"""
WITH d AS (
    SELECT doc_id, COALESCE(text, '') AS t,
           list_filter(string_split({_NORM}, ' '),
                       x -> length(x) > 0) AS w
    FROM documents
),
sig AS (
    SELECT doc_id,
        len(w) AS n_words,
        CASE WHEN len(w) > 0 THEN
            CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
                / len(w)
        ELSE 0.0 END AS mwl,
        CASE WHEN len(w) > 0 THEN
            ((length(t) - length(replace(t, '#', '')))
             + (length(t) - length(replace(t, '...', ''))) / 3.0
             + (length(t) - length(replace(t, chr(8230), ''))))
            / len(w)
        ELSE 0.0 END AS swr,
        CASE WHEN len(w) > 0 THEN
            CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
                 AS DOUBLE) / len(w)
        ELSE 0.0 END AS awf,
        (SELECT nl FROM (SELECT list_filter(
            list_transform(string_split(t, chr(10)), l -> trim(l)),
            l -> length(l) > 0) AS nl)) AS lines,
        CAST(len(list_intersect(list_distinct(w), [{stop}])) AS INT)
            AS stop_hits
    FROM d
),
sig2 AS (
    SELECT doc_id, n_words, mwl, swr, awf, stop_hits,
        CASE WHEN len(lines) > 0 THEN
            CAST(len(list_filter(lines,
                l -> substr(l, 1, 1) IN (chr(8226), '-', '*')))
                AS DOUBLE) / len(lines)
        ELSE 0.0 END AS blf,
        CASE WHEN len(lines) > 0 THEN
            CAST(len(list_filter(lines,
                l -> l LIKE '%...' OR l LIKE '%' || chr(8230)))
                AS DOUBLE) / len(lines)
        ELSE 0.0 END AS elf
    FROM sig
),
verdict AS (
    SELECT *,
        CASE
            WHEN n_words < 20 THEN 'n_words_low'
            WHEN n_words > 100000 THEN 'n_words_high'
            WHEN mwl < 3.0 OR mwl > 10.0 THEN 'mean_word_len'
            WHEN swr > 0.1 THEN 'symbol_ratio'
            WHEN blf > 0.9 THEN 'bullet_lines'
            WHEN elf > 0.3 THEN 'ellipsis_lines'
            WHEN awf < 0.8 THEN 'alpha_words'
            WHEN stop_hits < 2 THEN 'stopwords'
        END AS gopher_fail
    FROM sig2
)
SELECT doc_id, n_words,
       round(mwl, 6) + 0.0 AS mwl_r,
       round(swr, 6) + 0.0 AS swr_r,
       round(awf, 6) + 0.0 AS awf_r,
       stop_hits AS stopword_hits,
       gopher_fail,
       gopher_fail IS NULL AS keep
FROM verdict
"""
    return sdf, sql


def x_table_profile(spark, con, sf_dir):
    """table_profile (one-scan exact stats + HLL ndv + DDSketch
    quantiles, long format) vs a DuckDB replica assembled from plain
    aggregates and the proven hll/ddsketch SQL fragments — over
    lineitem's l_quantity / l_extendedprice / l_returnflag.  Values
    at 4 dp (mean/avg and the sketch estimates cross libm)."""
    import math

    from qualityassurancetool_spark.operators.hll import _alpha
    from qualityassurancetool_spark.operators.table_stats import (
        table_profile,
    )
    from qualityassurancetool_spark.schema import load_table

    cols = ["l_quantity", "l_extendedprice", "l_returnflag"]
    li = load_table(spark, sf_dir, "lineitem").select(*cols)
    sdf = table_profile(li, cols).select(
        "column", "stat", (F.round("value", 4) + F.lit(0.0)).alias("value_r")
    )

    p, m = 12, 1 << 12
    numer = repr(_alpha(m) * m * m * float(1 << 49))
    a = 0.02
    gamma = (1 + a) / (1 - a)
    lng, half = repr(math.log(gamma)), repr(2.0 / (gamma + 1.0))

    def exact(c, numeric):
        rows = [
            f"SELECT '{c}' AS \"column\", 'count' AS stat, "
            f"CAST(COUNT({c}) AS DOUBLE) AS v FROM lineitem",
            f"SELECT '{c}', 'null_count', "
            f"CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) "
            f"AS DOUBLE) FROM lineitem",
        ]
        if numeric:
            rows += [
                f"SELECT '{c}', 'min', CAST(MIN({c}) AS DOUBLE) FROM lineitem",
                f"SELECT '{c}', 'max', CAST(MAX({c}) AS DOUBLE) FROM lineitem",
                f"SELECT '{c}', 'mean', AVG(CAST({c} AS DOUBLE)) FROM lineitem",
            ]
        return rows

    def ndv(c):
        return f"""
SELECT '{c}' AS "column", 'ndv_est' AS stat,
       CASE WHEN raw <= {2.5 * m} AND zeros > 0
            THEN {float(m)} * ln({float(m)} / CAST(zeros AS DOUBLE))
            ELSE raw END AS v
FROM (
  SELECT {m} - COUNT(*) AS zeros,
         {numer} / CAST(SUM(CAST(pow(2.0, 49 - r) AS BIGINT))
             + ({m} - COUNT(*)) * 562949953421312 AS DOUBLE) AS raw
  FROM (
    SELECT h & {m - 1} AS bucket,
           MAX(CASE WHEN ((h >> {p}) & 281474976710655) = 0 THEN 49
                ELSE 49 - length(bin((h >> {p}) & 281474976710655))
           END) AS r
    FROM (
      SELECT CAST(concat('0x', substring(
          md5(concat('hll:', CAST({c} AS VARCHAR))), 1, 15)) AS BIGINT) AS h
      FROM lineitem WHERE {c} IS NOT NULL
    ) GROUP BY bucket
  )
)"""

    def qtiles(c):
        plist = ", ".join(
            f"(CAST({pb!r} AS DOUBLE))" for pb in (0.25, 0.5, 0.75)
        )
        return f"""
SELECT "column", concat('q', CAST(prob AS VARCHAR)) AS stat,
       CASE WHEN sign = 0 THEN 0.0
            ELSE sign * {half} * pow({repr(gamma)}, bucket) END AS v
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY prob ORDER BY band, within) AS rn
  FROM (
    SELECT c.*, pp.prob,
           SUM(n) OVER (ORDER BY band, within) AS cum,
           SUM(n) OVER () AS total
    FROM (
      SELECT '{c}' AS "column",
             CASE WHEN v > 0 THEN 1 WHEN v < 0 THEN -1 ELSE 0 END AS sign,
             CASE WHEN v > 0 THEN CAST(ceil(round(ln(v) / {lng}, 9)) AS INT)
                  WHEN v < 0 THEN CAST(ceil(round(ln(-v) / {lng}, 9)) AS INT)
                  ELSE 0 END AS bucket,
             CASE WHEN v > 0 THEN 2 WHEN v = 0 THEN 1 ELSE 0 END AS band,
             CASE WHEN v < 0
                  THEN -CAST(ceil(round(ln(-v) / {lng}, 9)) AS INT)
                  WHEN v > 0 THEN CAST(ceil(round(ln(v) / {lng}, 9)) AS INT)
                  ELSE 0 END AS within,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT CAST({c} AS DOUBLE) AS v FROM lineitem
            WHERE {c} IS NOT NULL)
      GROUP BY 1, 2, 3, 4, 5
    ) c, (VALUES {plist}) pp(prob)
  ) WHERE cum > prob * (total - 1)
) WHERE rn = 1"""

    pieces = (
        exact("l_quantity", True)
        + exact("l_extendedprice", True)
        + exact("l_returnflag", False)
        + [ndv(c) for c in cols]
        + [qtiles("l_quantity"), qtiles("l_extendedprice")]
    )
    sql = (
        'SELECT "column", stat, round(v, 4) + 0.0 AS value_r FROM ('
        + " UNION ALL ".join(f"({q})" for q in pieces)
        + ")"
    )
    return sdf, sql


def x_triangles(spark, con, sf_dir):
    """triangle_count (degree-ordered node-iterator) vs the DuckDB
    canonical u<v<w triple-join replica, per node, over the same
    deterministic doc link graph as pagerank (i → (7i+3)%N,
    (13i+5)%N, plus the +1/+2 ring families that close ~500
    triangles at sf0.01, undirected)."""
    from qualityassurancetool_spark.operators.graph import (
        triangle_count,
    )

    docs = _docs(spark, sf_dir).select("doc_id")
    n = docs.count()
    fams = [
        F.col("doc_id") * 7 + 3,
        F.col("doc_id") * 13 + 5,
        F.col("doc_id") + 1,
        F.col("doc_id") + 2,
    ]
    edges = None
    for f in fams:
        part = docs.select(
            F.col("doc_id").alias("src"), (f % n).alias("dst")
        )
        edges = part if edges is None else edges.union(part)
    sdf = triangle_count(edges)
    sql = f"""
WITH raw AS (
    SELECT doc_id AS a, (doc_id * 7 + 3) % {n} AS b FROM documents
    UNION ALL
    SELECT doc_id AS a, (doc_id * 13 + 5) % {n} AS b FROM documents
    UNION ALL
    SELECT doc_id AS a, (doc_id + 1) % {n} AS b FROM documents
    UNION ALL
    SELECT doc_id AS a, (doc_id + 2) % {n} AS b FROM documents
), e AS (
    SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
    FROM raw WHERE a <> b
), tri AS (
    SELECT e1.u AS x, e1.v AS y, e2.v AS z
    FROM e e1
    JOIN e e2 ON e2.u = e1.v
    JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
), nodes AS (
    SELECT x AS node FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
)
SELECT node, COUNT(*) AS n_triangles FROM nodes GROUP BY node
"""
    return sdf, sql


def x_unimax(spark, con, sf_dir):
    """unimax_mixture (Chung et al. 2023 water-filling budget
    allocation driving the deterministic mix) vs a DuckDB replica:
    weights re-derived with the published algorithm in plain python,
    epochs + fractional hash sampling replicated with the shared md5
    arithmetic (same scheme as x_temperature_mix)."""
    import math

    from qualityassurancetool_spark.operators.mixing import (
        unimax_mixture,
        unimax_weights,
    )
    from qualityassurancetool_spark.operators.sampling import (
        uniform_hash_sql,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    sources = {
        "en": docs.where(F.col("lang") == "en"),
        "other": docs.where(F.col("lang") != "en"),
    }
    n_epochs = 2.0
    sdf = unimax_mixture(sources, max_epochs=n_epochs).select(
        "doc_id",
        "source",
        "epoch",
        (F.round("mix_key", 9) + F.lit(0.0)).alias("key_r"),
    )
    sizes = {n: df.count() for n, df in sources.items()}
    w = unimax_weights(sizes, max_epochs=n_epochs)

    def parts(name, where):
        weight = w[name]
        full, frac = int(math.floor(weight)), weight - int(math.floor(weight))
        out = []
        for epoch in range(full):
            out.append((name, where, epoch, 1.0))
        if frac > 0:
            out.append((name, where, full, frac))
        return out

    def sql_part(name, where, epoch, frac):
        esalt = f"mix:{name}:{epoch}:"
        u = uniform_hash_sql("doc_id", esalt)
        k = uniform_hash_sql("doc_id", esalt + "k:")
        cond = f"AND {u} < {frac!r}" if frac < 1.0 else ""
        return (
            f"SELECT doc_id, '{name}' AS source, {epoch} AS epoch, "
            f"round({k}, 9) + 0.0 AS key_r FROM documents "
            f"WHERE {where} {cond}"
        )

    sql = " UNION ALL ".join(
        sql_part(*p)
        for name, where in (("en", "lang = 'en'"), ("other", "lang <> 'en'"))
        for p in parts(name, where)
    )
    return sdf, sql


_KMV_K = 64
_KMV_H = (
    "CAST(concat('0x', substring(md5(concat('kmv:', "
    "CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)"
)
_KMV_NUMER = repr(float(_KMV_K - 1) * float(1 << 60))


def x_kmv(spark, con, sf_dir):
    """kmv_sketch_by + kmv_estimate_by (bottom-k distinct sketch per
    lang) vs a DuckDB row_number re-implementation — hash-set exact;
    the estimate is one double division of exact integers."""
    from qualityassurancetool_spark.operators.kmv import (
        kmv_estimate_by,
        kmv_sketch_by,
    )

    sdf = kmv_estimate_by(
        kmv_sketch_by(_docs(spark, sf_dir), ["lang"], "doc_id", k=_KMV_K),
        ["lang"],
        k=_KMV_K,
    )
    sql = f"""
WITH h AS (
    SELECT DISTINCT lang, {_KMV_H} AS h
    FROM documents WHERE doc_id IS NOT NULL
), rk AS (
    SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS pos
    FROM h
), sk AS (
    SELECT lang, h FROM rk WHERE pos <= {_KMV_K}
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_hashes,
       MAX(h) AS kth_hash,
       CASE WHEN COUNT(*) < {_KMV_K} THEN CAST(COUNT(*) AS DOUBLE)
            ELSE {_KMV_NUMER} / CAST(MAX(h) AS DOUBLE) END AS est_distinct
FROM sk GROUP BY lang
"""
    return sdf, sql


def x_kmv_compare(spark, con, sf_dir):
    """kmv_set_compare (pairwise Jaccard / union estimate between lang
    doc-id sets, from sketches alone) vs a DuckDB re-implementation of
    the union-sample algebra."""
    from qualityassurancetool_spark.operators.kmv import (
        kmv_set_compare,
        kmv_sketch_by,
    )

    sk = kmv_sketch_by(_docs(spark, sf_dir), ["lang"], "doc_id", k=_KMV_K)
    sdf = kmv_set_compare(sk, "lang", k=_KMV_K)
    sql = f"""
WITH h AS (
    SELECT DISTINCT lang, {_KMV_H} AS h
    FROM documents WHERE doc_id IS NOT NULL
), rk AS (
    SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS pos
    FROM h
), sk AS (
    SELECT lang, h FROM rk WHERE pos <= {_KMV_K}
), gp AS (
    SELECT x.lang AS ga, y.lang AS gb
    FROM (SELECT DISTINCT lang FROM sk) x, (SELECT DISTINCT lang FROM sk) y
    WHERE x.lang < y.lang
), u AS (
    SELECT ga, gb, h, MAX(in_a) AS in_a, MAX(in_b) AS in_b
    FROM (
        SELECT gp.ga, gp.gb, sk.h, 1 AS in_a, 0 AS in_b
        FROM gp JOIN sk ON sk.lang = gp.ga
        UNION ALL
        SELECT gp.ga, gp.gb, sk.h, 0 AS in_a, 1 AS in_b
        FROM gp JOIN sk ON sk.lang = gp.gb
    ) GROUP BY ga, gb, h
), x AS (
    SELECT *, row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS pos
    FROM u
), agg AS (
    SELECT ga, gb,
           CAST(COUNT(*) AS BIGINT) AS n_union_sample,
           CAST(SUM(in_a * in_b) AS BIGINT) AS n_both,
           MAX(h) AS kth_hash
    FROM x WHERE pos <= {_KMV_K} GROUP BY ga, gb
)
SELECT ga, gb, n_union_sample, n_both,
       CAST(n_both AS DOUBLE) / n_union_sample AS jaccard,
       CASE WHEN n_union_sample < {_KMV_K}
            THEN CAST(n_union_sample AS DOUBLE)
            ELSE {_KMV_NUMER} / CAST(kth_hash AS DOUBLE) END AS est_union
FROM agg
"""
    return sdf, sql


def x_feature_prep(spark, con, sf_dir):
    """target_encode (smoothed + leave-one-out, category-key windows)
    and chi_squared (one-pass exploded contingency with absent-cell
    mass folded in) vs DuckDB window/contingency replicas over
    lineitem."""
    from qualityassurancetool_spark.operators.feature_prep import (
        chi_squared,
        target_encode,
    )
    from qualityassurancetool_spark.schema import load_table

    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "ship_month", F.month("l_shipdate").cast("string")
    )
    te = target_encode(
        target_encode(
            li, "l_returnflag", "l_quantity", smoothing=10.0
        ),
        "l_returnflag",
        "l_quantity",
        smoothing=10.0,
        loo=True,
        out_col="te_loo",
    ).select(
        F.lit("te").alias("part"),
        F.col("l_orderkey").cast("long").alias("k1"),
        F.col("l_linenumber").cast("long").alias("k2"),
        F.lit("").alias("feature"),
        (F.round("l_returnflag_te", 6) + F.lit(0.0)).alias("v1"),
        (F.round("te_loo", 6) + F.lit(0.0)).alias("v2"),
    )
    chi = chi_squared(
        li, ["l_linestatus", "ship_month"], "l_returnflag"
    ).select(
        F.lit("chi").alias("part"),
        F.lit(0).cast("long").alias("k1"),
        (F.col("dof") * 1000 + F.col("n") % 1000)
        .cast("long")
        .alias("k2"),
        "feature",
        (F.round("chi2", 6) + F.lit(0.0)).alias("v1"),
        F.lit(None).cast("double").alias("v2"),
    )
    sdf = te.unionByName(chi)
    sql = """
WITH te AS (
    SELECT 'te' AS part,
           CAST(l_orderkey AS BIGINT) AS k1,
           CAST(l_linenumber AS BIGINT) AS k2,
           '' AS feature,
           ROUND((SUM(l_quantity) OVER (PARTITION BY l_returnflag)
                  + 10.0 * (SUM(l_quantity) OVER ()
                            / COUNT(l_quantity) OVER ()))
                 / (COUNT(l_quantity) OVER (PARTITION BY l_returnflag)
                    + 10.0), 6) + 0.0 AS v1,
           ROUND((SUM(l_quantity) OVER (PARTITION BY l_returnflag)
                  - l_quantity
                  + 10.0 * (SUM(l_quantity) OVER ()
                            / COUNT(l_quantity) OVER ()))
                 / (COUNT(l_quantity) OVER (PARTITION BY l_returnflag)
                    - 1 + 10.0), 6) + 0.0 AS v2
    FROM lineitem
), cells AS (
    SELECT f.feature, f.v, l_returnflag AS y, COUNT(*) AS obs
    FROM lineitem, LATERAL (VALUES
        ('l_linestatus', COALESCE(CAST(l_linestatus AS VARCHAR),
                                  '__null__')),
        ('ship_month', COALESCE(CAST(month(l_shipdate) AS VARCHAR),
                                '__null__'))
    ) AS f(feature, v)
    WHERE l_returnflag IS NOT NULL
    GROUP BY 1, 2, 3
), scored AS (
    SELECT feature,
           SUM(obs) OVER (PARTITION BY feature) AS n,
           SUM(obs) OVER (PARTITION BY feature, v)
             * SUM(obs) OVER (PARTITION BY feature, y)
             / SUM(obs) OVER (PARTITION BY feature) AS exp,
           obs, v, y
    FROM cells
), agg AS (
    SELECT feature, ANY_VALUE(n) AS n,
           SUM((obs - exp) * (obs - exp) / exp) AS t,
           SUM(exp) AS e,
           COUNT(DISTINCT v) AS nv, COUNT(DISTINCT y) AS ny
    FROM scored GROUP BY feature
)
SELECT part, k1, k2, feature, v1, v2 FROM te
UNION ALL
SELECT 'chi', CAST(0 AS BIGINT),
       CAST((nv - 1) * (ny - 1) * 1000 + n % 1000 AS BIGINT),
       feature,
       ROUND(ROUND(t + (n - e), 10), 6) + 0.0,
       CAST(NULL AS DOUBLE)
FROM agg
"""
    return sdf, sql


def x_logreg(spark, con, sf_dir):
    """train_logistic_regression (full-batch GD, one aggregate pass
    per iteration, weights as driver literals) vs a DuckDB replica
    that unrolls the SAME 4 iterations as chained scalar CTEs over
    lineitem features (discount, quantity/50) with label
    returnflag='R'.  Deterministic because full-batch GD has no
    sampling; coefficients match to 6 dp."""
    from qualityassurancetool_spark.operators.logreg import (
        train_logistic_regression,
    )
    from qualityassurancetool_spark.schema import load_table

    iters, lr = 4, 0.8
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_discount").cast("double").alias("x1"),
        (F.col("l_quantity") / 50.0).cast("double").alias("x2"),
        F.when(F.col("l_returnflag") == "R", 1.0)
        .otherwise(0.0)
        .alias("y"),
    )
    m = train_logistic_regression(
        li, ["x1", "x2"], "y", iters=iters, lr=lr, standardize=False
    )
    sdf = spark.createDataFrame(
        [
            (
                "w1",
                round(m["weights"][0], 6) + 0.0,
            ),
            ("w2", round(m["weights"][1], 6) + 0.0),
            ("b", round(m["bias"], 6) + 0.0),
            ("n", float(m["n"])),
        ],
        schema="coef string, value double",
    )
    # unrolled GD: iteration CTEs g{i} hold (b, w1, w2) scalars
    ctes = [
        """d AS MATERIALIZED (
    SELECT CAST(l_discount AS DOUBLE) AS x1,
           CAST(l_quantity AS DOUBLE) / 50.0 AS x2,
           CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y
    FROM lineitem
    WHERE l_discount IS NOT NULL AND l_quantity IS NOT NULL
      AND l_returnflag IS NOT NULL
)""",
        "g0 AS (SELECT 0.0 AS b, 0.0 AS w1, 0.0 AS w2)",
    ]
    for i in range(iters):
        ctes.append(
            f"""g{i + 1} AS (
    SELECT g.b - {lr} * AVG(p - y) AS b,
           g.w1 - {lr} * AVG((p - y) * x1) AS w1,
           g.w2 - {lr} * AVG((p - y) * x2) AS w2
    FROM (
        SELECT x1, x2, y,
               1.0 / (1.0 + exp(-(g.b + g.w1 * x1 + g.w2 * x2))) AS p
        FROM d, g{i} g
    ) q, g{i} g
    GROUP BY g.b, g.w1, g.w2
)"""
        )
    sql = (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT 'w1' AS coef, ROUND(w1, 6) + 0.0 AS value FROM g{iters}
UNION ALL SELECT 'w2', ROUND(w2, 6) + 0.0 FROM g{iters}
UNION ALL SELECT 'b', ROUND(b, 6) + 0.0 FROM g{iters}
UNION ALL SELECT 'n', CAST(COUNT(*) AS DOUBLE) FROM d
"""
    )
    return sdf, sql


def x_ols(spark, con, sf_dir):
    """grouped_ols + correlation_pairs (one-pass moment aggregation)
    vs DuckDB's native regr_slope/regr_intercept/regr_r2/corr over
    lineitem: fit discount -> extendedprice per returnflag, plus the
    quantity/extendedprice/discount correlation matrix.  6-dp
    rounding absorbs the moment-identity-vs-streaming-kahan ulp
    differences between engines."""
    from qualityassurancetool_spark.operators.regression import (
        correlation_pairs,
        grouped_ols,
    )
    from qualityassurancetool_spark.schema import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_discount").cast("double").alias("x"),
        F.col("l_extendedprice").cast("double").alias("y"),
        F.col("l_quantity").cast("double").alias("q"),
    )
    ols = grouped_ols(li, "x", "y", ["l_returnflag"]).select(
        F.lit("ols").alias("part"),
        F.col("l_returnflag").alias("key"),
        F.lit("x~y").alias("pair"),
        "n",
        (F.round("slope", 4) + F.lit(0.0)).alias("v1"),
        (F.round(F.col("intercept") / 1000.0, 4) + F.lit(0.0)).alias(
            "v2"
        ),
        (F.round("r2", 6) + F.lit(0.0)).alias("v3"),
    )
    corr = correlation_pairs(li, ["q", "x", "y"]).select(
        F.lit("corr").alias("part"),
        F.lit("").alias("key"),
        F.concat_ws("~", "col_a", "col_b").alias("pair"),
        "n",
        (F.round("corr", 6) + F.lit(0.0)).alias("v1"),
        F.lit(None).cast("double").alias("v2"),
        F.lit(None).cast("double").alias("v3"),
    )
    sdf = ols.unionByName(corr)
    sql = """
WITH li AS (
    SELECT l_returnflag,
           CAST(l_discount AS DOUBLE) AS x,
           CAST(l_extendedprice AS DOUBLE) AS y,
           CAST(l_quantity AS DOUBLE) AS q
    FROM lineitem
), ols AS (
    SELECT 'ols' AS part, l_returnflag AS key, 'x~y' AS pair,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(regr_slope(y, x), 4) + 0.0 AS v1,
           ROUND(regr_intercept(y, x) / 1000.0, 4) + 0.0 AS v2,
           ROUND(regr_r2(y, x), 6) + 0.0 AS v3
    FROM li GROUP BY l_returnflag
), pairs AS (
    SELECT 'corr' AS part, '' AS key, 'q~x' AS pair,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(corr(q, x), 6) + 0.0 AS v1 FROM li
    UNION ALL
    SELECT 'corr', '', 'q~y', CAST(COUNT(*) AS BIGINT),
           ROUND(corr(q, y), 6) + 0.0 FROM li
    UNION ALL
    SELECT 'corr', '', 'x~y', CAST(COUNT(*) AS BIGINT),
           ROUND(corr(x, y), 6) + 0.0 FROM li
)
SELECT part, key, pair, n, v1, v2, v3 FROM ols
UNION ALL
SELECT part, key, pair, n, v1,
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
FROM pairs
"""
    return sdf, sql


def x_growth(spark, con, sf_dir):
    """growth_accounting (weekly new/retained/resurrected/churned
    via one user-key shuffle + lag/lead over each user's distinct
    active weeks) vs the DuckDB window replica."""
    from qualityassurancetool_spark.operators.growth import (
        growth_accounting,
    )
    from qualityassurancetool_spark.schema import load_table

    ev = load_table(spark, sf_dir, "events")
    sdf = growth_accounting(ev, period="week")
    sql = """
WITH up AS (
    SELECT DISTINCT user_id,
           CAST(date_trunc('week', ts) AS DATE) AS p
    FROM events WHERE ts IS NOT NULL
), seq AS (
    SELECT user_id, p,
           lag(p)  OVER (PARTITION BY user_id ORDER BY p) AS prev,
           lead(p) OVER (PARTITION BY user_id ORDER BY p) AS nxt
    FROM up
), active AS (
    SELECT p AS period_start,
           SUM(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS new_users,
           SUM(CASE WHEN prev IS NOT NULL
                     AND date_diff('day', prev, p) = 7
                    THEN 1 ELSE 0 END) AS retained,
           SUM(CASE WHEN prev IS NOT NULL
                     AND date_diff('day', prev, p) > 7
                    THEN 1 ELSE 0 END) AS resurrected
    FROM seq GROUP BY p
), churn AS (
    SELECT p + 7 AS period_start, COUNT(*) AS churned
    FROM seq
    WHERE nxt IS NULL OR date_diff('day', p, nxt) > 7
    GROUP BY p + 7
)
SELECT COALESCE(a.period_start, c.period_start) AS period_start,
       CAST(COALESCE(new_users, 0) AS BIGINT) AS new_users,
       CAST(COALESCE(retained, 0) AS BIGINT) AS retained,
       CAST(COALESCE(resurrected, 0) AS BIGINT) AS resurrected,
       CAST(COALESCE(churned, 0) AS BIGINT) AS churned
FROM active a FULL JOIN churn c USING (period_start)
"""
    return sdf, sql


def x_rfm(spark, con, sf_dir):
    """rfm_segments (customer-level aggregate + deterministic ntile
    windows with (metric, customer) tie-break) vs the DuckDB ntile
    replica over orders."""
    from qualityassurancetool_spark.operators.rfm import rfm_segments
    from qualityassurancetool_spark.schema import load_table

    orders = load_table(spark, sf_dir, "orders")
    sdf = rfm_segments(orders, n_bins=5)
    sql = """
WITH per_cust AS (
    SELECT o_custkey AS customer,
           MAX(o_orderdate) AS last_d,
           CAST(COUNT(*) AS BIGINT) AS frequency,
           ROUND(SUM(o_totalprice), 2) AS monetary
    FROM orders
    WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
    GROUP BY o_custkey
), ref AS (SELECT MAX(o_orderdate) AS ref_d FROM orders
           WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL),
base AS (
    SELECT customer,
           CAST(date_diff('day', last_d, ref_d) AS BIGINT)
               AS recency_days,
           frequency, monetary
    FROM per_cust, ref
), scored AS (
    SELECT *,
           ntile(5) OVER (ORDER BY recency_days DESC, customer) AS r,
           ntile(5) OVER (ORDER BY frequency ASC,  customer) AS f,
           ntile(5) OVER (ORDER BY monetary ASC,   customer) AS m
    FROM base
)
SELECT customer, recency_days, frequency, monetary,
       CAST(r AS INTEGER) AS r, CAST(f AS INTEGER) AS f,
       CAST(m AS INTEGER) AS m,
       CAST(r AS VARCHAR) || CAST(f AS VARCHAR) || CAST(m AS VARCHAR)
           AS rfm_cell
FROM scored
"""
    return sdf, sql


def x_cooccurrence(spark, con, sf_dir):
    """cooccurrence (bipartite user->item projection, HOF pair
    comprehension, deterministic smallest-items cap) vs the DuckDB
    row_number-capped self-join replica.  Interactions = (user_id,
    event_type value-bucket) pairs from events — several items per
    user, heavy duplication, cap 4 exercised."""
    from qualityassurancetool_spark.operators.cooccurrence import (
        cooccurrence,
    )
    from qualityassurancetool_spark.schema import load_table

    ev = load_table(spark, sf_dir, "events")
    ui = ev.select(
        "user_id",
        (
            F.xxhash64(F.col("event_type"), F.col("value").cast("int"))
            % 50
        ).alias("item_id"),
    )
    sdf = cooccurrence(
        ui, max_per_user=4, min_count=2
    )
    sql = """
WITH ui AS (
    SELECT DISTINCT user_id, item_id FROM ui_items
    WHERE user_id IS NOT NULL AND item_id IS NOT NULL
), capped AS (
    SELECT user_id, item_id FROM (
        SELECT user_id, item_id,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY item_id
               ) AS rn
        FROM ui
    ) WHERE rn <= 4
)
SELECT a.item_id AS item_a, b.item_id AS item_b,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM capped a JOIN capped b
  ON a.user_id = b.user_id AND a.item_id < b.item_id
GROUP BY 1, 2 HAVING COUNT(*) >= 2
"""
    # the bucketed item derivation uses Spark's xxhash64 (no DuckDB
    # twin) — materialize the interaction table for the oracle side
    con.register("ui_pd", ui.toPandas())
    con.execute(
        "CREATE OR REPLACE TABLE ui_items AS SELECT * FROM ui_pd"
    )
    return sdf, sql


def x_transitions(spark, con, sf_dir):
    """event_transitions (per-user lag window + tiny row-normalize)
    vs the DuckDB lag replica with the same (ts, event_id)
    tie-break."""
    from qualityassurancetool_spark.operators.transitions import (
        event_transitions,
    )
    from qualityassurancetool_spark.schema import load_table

    ev = load_table(spark, sf_dir, "events")
    sdf = event_transitions(ev, order_extra=["event_id"])
    sql = """
WITH seq AS (
    SELECT user_id, event_type,
           lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS from_type
    FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
), pairs AS (
    SELECT from_type, event_type AS to_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE from_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY from_type), 6) AS p
FROM pairs
"""
    return sdf, sql


def x_quantile_bin(spark, con, sf_dir):
    """quantile_bin (exact type-7 cut-points rounded to 6 dp, HOF
    strictly-below bin fold) vs DuckDB quantile_cont with the same
    rounding and counting: per-returnflag quartiles of
    extendedprice, compared as (group, bin) histograms plus the
    cut-point values themselves."""
    from qualityassurancetool_spark.operators.feature_prep import (
        quantile_bin,
    )
    from qualityassurancetool_spark.schema import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").cast("double").alias("x"),
    )
    binned = quantile_bin(
        li, "x", 4, group_cols=["l_returnflag"], out_col="bin"
    )
    hist = binned.groupBy("l_returnflag", "bin").agg(
        F.count(F.lit(1)).alias("cnt")
    ).select(
        F.lit("bin").alias("part"),
        F.col("l_returnflag").alias("key"),
        F.col("bin").cast("long").alias("idx"),
        F.col("cnt").cast("long").alias("cnt"),
        F.lit(None).cast("double").alias("v"),
    )
    cuts = (
        li.groupBy("l_returnflag")
        .agg(
            F.transform(
                F.percentile("x", F.array(
                    F.lit(0.25), F.lit(0.5), F.lit(0.75)
                )),
                lambda c: F.round(c, 6),
            ).alias("c")
        )
        .select(
            F.lit("cut").alias("part"),
            F.col("l_returnflag").alias("key"),
            F.posexplode("c"),
        )
        .select(
            "part",
            "key",
            F.col("pos").cast("long").alias("idx"),
            F.lit(0).cast("long").alias("cnt"),
            F.col("col").alias("v"),
        )
    )
    sdf = hist.unionByName(cuts)
    sql = """
WITH li AS (
    SELECT l_returnflag, CAST(l_extendedprice AS DOUBLE) AS x
    FROM lineitem
), cuts AS (
    SELECT l_returnflag,
           ROUND(quantile_cont(x, 0.25), 6) AS c1,
           ROUND(quantile_cont(x, 0.50), 6) AS c2,
           ROUND(quantile_cont(x, 0.75), 6) AS c3
    FROM li GROUP BY l_returnflag
), hist AS (
    SELECT 'bin' AS part, li.l_returnflag AS key,
           CAST(CASE WHEN x > c1 THEN 1 ELSE 0 END
              + CASE WHEN x > c2 THEN 1 ELSE 0 END
              + CASE WHEN x > c3 THEN 1 ELSE 0 END AS BIGINT) AS idx,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(NULL AS DOUBLE) AS v
    FROM li JOIN cuts USING (l_returnflag)
    GROUP BY 1, 2, 3
), cutrows AS (
    SELECT 'cut' AS part, l_returnflag AS key,
           CAST(u.i - 1 AS BIGINT) AS idx,
           CAST(0 AS BIGINT) AS cnt, u.c AS v
    FROM cuts, LATERAL (
        SELECT * FROM (VALUES (1, c1), (2, c2), (3, c3)) t(i, c)
    ) u
)
SELECT * FROM hist UNION ALL SELECT * FROM cutrows
"""
    return sdf, sql


def x_minhash_batched(spark, con, sf_dir):
    """minhash_dedup_batched (the band-batched bounded-state schedule,
    operators/dedup.py) must reproduce the declared dedup_minhash_lsh
    pipeline's verified pairs VERBATIM — same portable-mode signatures,
    same candidate bands, same Jaccard — so it shares that row's DuckDB
    oracle.  Parity with the monolithic operator is additionally pinned
    across batch schedules in tests/test_scale_ops.py."""
    import tempfile

    from qualityassurancetool_spark.operators.dedup import (
        minhash_dedup_batched,
    )
    from qualityassurancetool_spark.schema import load_table

    m = load_entry()
    docs = load_table(spark, sf_dir, "documents")
    out = minhash_dedup_batched(
        docs,
        tempfile.mkdtemp(prefix="qat_mhb_oracle_"),
        num_hashes=16, bands=8, shingle_k=3, threshold=0.5,
        hash_mode="portable", band_batches=4,
    )
    sdf = out.select(
        "id_a", "id_b", (F.round("jaccard", 6) + F.lit(0.0)).alias("jaccard_r")
    ).orderBy("id_a", "id_b")
    return sdf, m._sql_dedup_minhash_lsh()


def x_minhash_admit(spark, con, sf_dir):
    """Incremental minhash ADMISSION (operators/dedup.minhash_admit):
    bootstrap the state from the non-delta corpus (doc_id % 7 != 0) via
    minhash_dedup_batched, admit the delta (doc_id % 7 == 0), and the
    verified pairs must equal the full-corpus DuckDB LSH replica
    restricted to pairs touching a delta doc — incremental cost, batch
    answers."""
    import tempfile

    from qualityassurancetool_spark.operators.dedup import (
        minhash_admit,
        minhash_dedup_batched,
    )
    from qualityassurancetool_spark.schema import load_table

    m = load_entry()
    docs = load_table(spark, sf_dir, "documents")
    kw = dict(
        num_hashes=16, bands=8, shingle_k=3, threshold=0.5,
        hash_mode="portable",
    )
    state = tempfile.mkdtemp(prefix="qat_mh_admit_")
    minhash_dedup_batched(
        docs.where(F.col("doc_id") % 7 != 0), state, **kw
    ).count()
    out = minhash_admit(docs.where(F.col("doc_id") % 7 == 0), state, **kw)
    sdf = out.select(
        "id_a", "id_b", (F.round("jaccard", 6) + F.lit(0.0)).alias("jaccard_r")
    ).orderBy("id_a", "id_b")
    sql = (
        "SELECT * FROM (" + m._sql_dedup_minhash_lsh() + ") "
        "WHERE id_a % 7 = 0 OR id_b % 7 = 0 ORDER BY id_a, id_b"
    )
    return sdf, sql


def x_minhash_admit_slim(spark, con, sf_dir):
    """Slim-state admission (round-11): bootstrap the state with
    store_shingles=False (the 100 M-doc disk-budget configuration),
    admit the delta with corpus_text= — state-side shingles recompute
    from the corpus text for candidate ids only — and the verified
    pairs must equal the same full-corpus DuckDB LSH replica as
    x_minhash_admit (slim changes the storage, never the pairs)."""
    import tempfile

    from qualityassurancetool_spark.operators.dedup import (
        minhash_admit,
        minhash_dedup_batched,
    )
    from qualityassurancetool_spark.schema import load_table

    m = load_entry()
    docs = load_table(spark, sf_dir, "documents")
    kw = dict(
        num_hashes=16, bands=8, shingle_k=3, threshold=0.5,
        hash_mode="portable",
    )
    corpus = docs.where(F.col("doc_id") % 7 != 0)
    state = tempfile.mkdtemp(prefix="qat_mh_admit_slim_")
    minhash_dedup_batched(
        corpus, state, band_batches=16, store_shingles=False, **kw
    ).count()
    out = minhash_admit(
        docs.where(F.col("doc_id") % 7 == 0),
        state,
        admission_id="slim-check",
        corpus_text=corpus,
        **kw,
    )
    sdf = out.select(
        "id_a", "id_b", (F.round("jaccard", 6) + F.lit(0.0)).alias("jaccard_r")
    ).orderBy("id_a", "id_b")
    sql = (
        "SELECT * FROM (" + m._sql_dedup_minhash_lsh() + ") "
        "WHERE id_a % 7 = 0 OR id_b % 7 = 0 ORDER BY id_a, id_b"
    )
    return sdf, sql


# name → check.  Two shapes: (spark_df, duck_sql) for plan-vs-SQL checks,
# (rows, rows) for round-trip checks that already materialized both sides.
EXTRA_CHECKS = {
    "x_chunking": x_chunking,
    "x_packing": x_packing,
    "x_quantize_int8": x_quantize_int8,
    "x_group_split": x_group_split,
    "x_dedup_paragraphs": x_dedup_paragraphs,
    "x_shard_layout": x_shard_layout,
    "x_streaming_dedup": x_streaming_dedup,
    "x_vocab": x_vocab,
    "x_mixing": x_mixing,
    "x_temperature_mix": x_temperature_mix,
    "x_lm_score": x_lm_score,
    "x_incremental_dedup": x_incremental_dedup,
    "x_tfidf": x_tfidf,
    "x_fingerprint": x_fingerprint,
    "x_redact_pii": x_redact_pii,
    "x_span_dedup": x_span_dedup,
    "x_span_batched": x_span_batched,
    "x_url_canonical": x_url_canonical,
    "x_semantic_dedup": x_semantic_dedup,
    "x_classifier": x_classifier,
    "x_weighted_sample": x_weighted_sample,
    "x_incremental_fingerprint": x_incremental_fingerprint,
    "x_lm_buckets": x_lm_buckets,
    "x_domain_reputation": x_domain_reputation,
    "x_compression_ratio": x_compression_ratio,
    "x_script_profile": x_script_profile,
    "x_span_corruption": x_span_corruption,
    "x_fim": x_fim,
    "x_media_phash": x_media_phash,
    "x_corpus_drift": x_corpus_drift,
    "x_bpe": x_bpe,
    "x_kn_lm": x_kn_lm,
    "x_dsir": x_dsir,
    "x_c4_lines": x_c4_lines,
    "x_corpus_line_dedup": x_corpus_line_dedup,
    "x_bloom": x_bloom,
    "x_corpus_report": x_corpus_report,
    "x_snapshot_diff": x_snapshot_diff,
    "x_ngram_topk": x_ngram_topk,
    "x_unicode_nfc": x_unicode_nfc,
    "x_pq": x_pq,
    "x_opq": x_opq,
    "x_ivfadc": x_ivfadc,
    "x_heavy_hitters": x_heavy_hitters,
    "x_interval_join": x_interval_join,
    "x_zorder": x_zorder,
    "x_pagerank": x_pagerank,
    "x_robust_outlier": x_robust_outlier,
    "x_scd2": x_scd2,
    "x_semantic_decontam": x_semantic_decontam,
    "x_simhash": x_simhash,
    "x_isotonic": x_isotonic,
    "x_resample_ffill": x_resample_ffill,
    "x_resample_nearest": x_resample_nearest,
    "x_skew_report": x_skew_report,
    "x_fuzzy_join": x_fuzzy_join,
    "x_histogram": x_histogram,
    "x_l2_normalize": x_l2_normalize,
    "x_time_split": x_time_split,
    "x_rrf": x_rrf,
    "x_gopher": x_gopher,
    "x_badwords": x_badwords,
    "x_winsorize": x_winsorize,
    "x_kmv": x_kmv,
    "x_unimax": x_unimax,
    "x_triangles": x_triangles,
    "x_table_profile": x_table_profile,
    "x_kmv_compare": x_kmv_compare,
    "x_simhash_pairs_full": x_simhash_pairs_full,
    "x_region_mask": x_region_mask,
    "x_cooccurrence": x_cooccurrence,
    "x_transitions": x_transitions,
    "x_feature_prep": x_feature_prep,
    "x_logreg": x_logreg,
    "x_ols": x_ols,
    "x_growth": x_growth,
    "x_rfm": x_rfm,
    "x_quantile_bin": x_quantile_bin,
    "x_minhash_batched": x_minhash_batched,
    "x_minhash_admit": x_minhash_admit,
    "x_minhash_admit_slim": x_minhash_admit_slim,
}
