"""Training-data pipeline operators beyond the dedup/similarity core:
repetition signals, quality gating, benchmark decontamination,
deterministic splits/sampling/mixing, sequence packing, PII redaction.

These are the operations an LLM pretraining-data pipeline runs between
raw ingestion (the loader) and tokenization: filter (quality, PII),
decontaminate against eval benchmarks, subsample/mix sources, and pack
documents into fixed-length training sequences.  Reference parity note
(SURVEY.md §2): the reference loader has no such stage — this module is
part of the mandated LLM-pipeline surface built on the same tables.

Everything is built-in expressions; determinism follows SURVEY.md §5.2:
integer counts, single exact divisions, and the portable 60-bit
md5-derived hash (15 hex chars -> signed-positive BIGINT, identical in
Spark and DuckDB) wherever pseudo-randomness is needed, so sampling
decisions are bit-identical across engines and cluster layouts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_hadoop_loader_spark.catalog import spread, table
from kafka_hadoop_loader_spark.plans.ranking import bounded_window_key, two_phase_rank
from kafka_hadoop_loader_spark.registry import register


def _phash(col) -> F.Column:
    """Portable 60-bit hash: md5 hex prefix as BIGINT (always >= 0).

    Same value as DuckDB's ``CAST(('0x' || substr(md5(x), 1, 15)) AS
    BIGINT)`` — the cross-engine determinism workhorse (see
    dedup_simhash), here used to make sampling/split decisions
    reproducible no matter which engine or cluster layout executes.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


_PHASH_SQL = "CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"


@register(
    "text_repetition",
    oracle="""
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ),
        b AS (
            SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS bg
            FROM w, unnest(generate_series(1, len(ws) - 1)) AS u(i)
            WHERE len(ws) >= 2
        ),
        c AS (
            SELECT doc_id, bg, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM b GROUP BY doc_id, bg
        )
        SELECT doc_id,
               CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
               CAST(COUNT(*) AS BIGINT) AS n_distinct_bigrams,
               (CAST(SUM(cnt) AS DOUBLE) - CAST(COUNT(*) AS DOUBLE))
                   / CAST(SUM(cnt) AS DOUBLE) AS dup_bigram_frac,
               CAST(MAX(cnt) AS BIGINT) AS top_bigram_cnt,
               CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE)
                   AS top_bigram_frac
        FROM c GROUP BY doc_id
        ORDER BY doc_id
    """,
    doc="""Per-document repetition signals (the Gopher/MassiveText rules'
    shape): duplicate-bigram fraction and top-bigram fraction flag
    boilerplate and degenerate repetition that plain length/stopword
    filters miss.

    Plan: ZERO-shuffle.  Every statistic is per-document, so nothing
    justifies exploding 100x the rows and shuffling (doc_id, bigram)
    pairs — the counts come from higher-order functions inside the row:
    size for the total, array_distinct for the distinct count, and a
    run-length fold over the SORTED bigram array for the top-bigram
    count (equal bigrams are adjacent after sort_array, so the max
    adjacent run IS the max multiplicity).  At 100 TB this is a pure
    map over the scan — the explode+groupBy formulation (measured 1.6x
    slower at sf0.1, 3.2s vs 2.0s steady-state) additionally pays two
    full shuffles of the 100x-exploded stream, which is the term that
    grows with scale.  spread() supplies parallelism the single-file
    local fixture lacks (no-op on a real multi-file scan).  The oracle
    keeps the explode/GROUP BY form: same semantics, independently
    derived.""",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(table(spark, sf_dir, "documents"))
    w = F.split("text", " ")
    # slice+arrays_zip bigrams, PROJECTED ONCE: the previous
    # sequence+element_at transform re-evaluated the split subtree
    # inside every lambda call (the _shingle_hashes 7x trap), and the
    # bigram array expression appeared in four output columns — four
    # rebuilds per row (HOF lambdas get no common-subexpression
    # elimination).  Building the array once as a column and deriving
    # all five stats from the column reference measured 1.11s -> 0.74s
    # interleaved min-of-3 at sf0.1 (r13 wave 12); arrays identical, so
    # every downstream stat is bit-identical.
    nw = F.size(w)
    zb = F.arrays_zip(F.slice(w, 1, nw - 1), F.slice(w, 2, nw - 1))
    bigr_arr = F.transform(zb, lambda s: F.concat_ws(" ", s["0"], s["1"]))
    base = d.where(nw >= 2).select("doc_id", bigr_arr.alias("bigr"))
    bigr = F.col("bigr")
    srt = F.sort_array(bigr)
    # max adjacent-run length over the sorted array: state = (prev, run, best)
    top = F.aggregate(
        srt,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("bigint").alias("run"),
            F.lit(0).cast("bigint").alias("best"),
        ),
        lambda st, x: F.struct(
            x.alias("prev"),
            F.when(st["prev"].isNotNull() & (x == st["prev"]), st["run"] + 1)
            .otherwise(F.lit(1).cast("bigint"))
            .alias("run"),
            F.greatest(
                st["best"],
                F.when(st["prev"].isNotNull() & (x == st["prev"]), st["run"] + 1)
                .otherwise(F.lit(1).cast("bigint")),
            ).alias("best"),
        ),
        lambda st: st["best"],
    )
    total = F.size(bigr).cast("bigint")
    dist = F.size(F.array_distinct(bigr)).cast("bigint")
    return (
        base
        .select(
            "doc_id",
            total.alias("n_bigrams"),
            dist.alias("n_distinct_bigrams"),
            (
                (total.cast("double") - dist.cast("double")) / total.cast("double")
            ).alias("dup_bigram_frac"),
            top.alias("top_bigram_cnt"),
            (top.cast("double") / total.cast("double")).alias("top_bigram_frac"),
        )
        .orderBy("doc_id")
    )


# Quality-gate thresholds (C4/Gopher-style, tuned to the fixture's
# 10-99-token word-salad docs so both outcomes occur).
_QG_MIN_TOKENS = 20
_QG_MIN_AVG_LEN = 3.0
_QG_MAX_AVG_LEN = 8.0
_QG_MIN_TTR = 0.30
_QG_MAX_STOP = 0.30
_QG_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "on", "for", "with")


@register(
    "quality_gate",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, lang, source, n_chars,
                   string_split(text, ' ') AS w
            FROM documents
        ),
        s AS (
            SELECT doc_id, lang, source,
                   CAST(len(w) AS BIGINT) AS n_tokens,
                   CAST(n_chars AS DOUBLE) / CAST(len(w) AS DOUBLE)
                       AS avg_token_len,
                   CAST(len(list_distinct(w)) AS DOUBLE)
                       / CAST(len(w) AS DOUBLE) AS type_token_ratio,
                   CAST(len(list_filter(w, x -> x IN {_QG_STOPWORDS!r}))
                        AS DOUBLE) / CAST(len(w) AS DOUBLE) AS stopword_ratio
            FROM t
        )
        SELECT doc_id, lang, source, n_tokens, avg_token_len,
               type_token_ratio, stopword_ratio,
               (n_tokens >= {_QG_MIN_TOKENS}) AS pass_len,
               (avg_token_len >= {_QG_MIN_AVG_LEN}
                AND avg_token_len <= {_QG_MAX_AVG_LEN}) AS pass_word_len,
               (type_token_ratio >= {_QG_MIN_TTR}) AS pass_diversity,
               (stopword_ratio <= {_QG_MAX_STOP}) AS pass_stopwords,
               (n_tokens >= {_QG_MIN_TOKENS}
                AND avg_token_len >= {_QG_MIN_AVG_LEN}
                AND avg_token_len <= {_QG_MAX_AVG_LEN}
                AND type_token_ratio >= {_QG_MIN_TTR}
                AND stopword_ratio <= {_QG_MAX_STOP}) AS keep
        FROM s
        ORDER BY doc_id
    """,
    doc="""C4/Gopher-style quality gate: per-document rule evaluation
    (min length, word-length band, lexical diversity, stopword cap)
    with per-rule booleans plus the conjunction — the audit-friendly
    form (you can aggregate per-rule rejection rates before committing
    to a filter).  Narrow projection, no shuffle until the final
    presentation sort; comparisons are on exact single divisions so the
    booleans are engine-independent.""",
)
def quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    n_tok = F.size(w).cast("bigint")
    avg_len = F.col("n_chars").cast("double") / n_tok.cast("double")
    ttr = F.size(F.array_distinct(w)).cast("double") / n_tok.cast("double")
    stop = (
        F.size(F.filter(w, lambda x: x.isin(*_QG_STOPWORDS))).cast("double")
        / n_tok.cast("double")
    )
    out = d.select(
        "doc_id",
        "lang",
        "source",
        n_tok.alias("n_tokens"),
        avg_len.alias("avg_token_len"),
        ttr.alias("type_token_ratio"),
        stop.alias("stopword_ratio"),
    )
    pass_len = F.col("n_tokens") >= _QG_MIN_TOKENS
    pass_wl = (F.col("avg_token_len") >= _QG_MIN_AVG_LEN) & (
        F.col("avg_token_len") <= _QG_MAX_AVG_LEN
    )
    pass_div = F.col("type_token_ratio") >= _QG_MIN_TTR
    pass_stop = F.col("stopword_ratio") <= _QG_MAX_STOP
    return out.select(
        "*",
        pass_len.alias("pass_len"),
        pass_wl.alias("pass_word_len"),
        pass_div.alias("pass_diversity"),
        pass_stop.alias("pass_stopwords"),
        (pass_len & pass_wl & pass_div & pass_stop).alias("keep"),
    ).orderBy("doc_id")


@register(
    "decontaminate_ngram",
    oracle="""
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ),
        g AS (
            SELECT DISTINCT doc_id,
                   ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS g3
            FROM w, unnest(generate_series(1, len(ws) - 2)) AS u(i)
            WHERE len(ws) >= 3
        ),
        bench AS (
            SELECT doc_id AS bench_id, g3 FROM g WHERE doc_id % 97 = 0
        ),
        corpus AS (
            SELECT doc_id, g3 FROM g WHERE doc_id % 97 <> 0
        )
        SELECT c.doc_id AS doc_id,
               CAST(COUNT(DISTINCT c.g3) AS BIGINT) AS n_shared_grams,
               CAST(COUNT(DISTINCT b.bench_id) AS BIGINT) AS n_bench_docs
        FROM corpus c JOIN bench b ON c.g3 = b.g3
        GROUP BY c.doc_id
        ORDER BY doc_id
    """,
    doc="""Benchmark decontamination by token-n-gram overlap (the
    GPT-3/PaLM eval-leakage procedure): any training document sharing a
    3-gram with the held-out benchmark set (here: doc_id % 97 = 0 as
    the stand-in benchmark) is flagged with its overlap evidence.  The
    benchmark gram set is tiny relative to the corpus, so the plan
    broadcasts it — the corpus side streams, nothing shuffles but the
    per-doc aggregate.  At 100 TB: identical shape; real pipelines hash
    grams (13-grams) to 64-bit before the join, which this fixture
    skips only because the strings are the parity-checkable form.""",
)
def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_hadoop_loader_spark.operators.dedup import _shingle_grams

    d = spread(table(spark, sf_dir, "documents"), "doc_id")
    # _shingle_grams is the slice+arrays_zip form: split evaluates once
    # per row instead of once per element inside the lambda (the
    # _shingle_hashes 7x trap; r13 wave 12).  Same distinct gram
    # STRINGS — this operator deliberately keeps the parity-checkable
    # string grams (see doc); <3-word docs yield an empty array and are
    # dropped by the explode, matching the old size() filter.
    grams = d.select(
        "doc_id", F.explode(_shingle_grams(F.col("text"))).alias("g3")
    )
    bench = grams.where(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("bench_id"), "g3"
    )
    corpus = grams.where(F.col("doc_id") % 97 != 0)
    return (
        corpus.join(F.broadcast(bench), "g3")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("g3").alias("n_shared_grams"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
        .orderBy("doc_id")
    )


@register(
    "sample_hash_split",
    oracle=f"""
        WITH s AS (
            SELECT doc_id, source,
                   {_PHASH_SQL.format(x="'split:' || CAST(doc_id AS VARCHAR)")}
                       % 100 AS bucket
            FROM documents
        )
        SELECT doc_id, source, bucket,
               CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM s
        ORDER BY doc_id
    """,
    doc="""Deterministic train/val/test split by salted content hash
    (80/10/10): the split decision is a pure function of the stable id,
    so it is reproducible across engines, runs, and repartitions — the
    property random() splits lack — and membership never migrates when
    new data arrives.  Stateless map, zero shuffle except the
    presentation sort; the salt namespaces this split against other
    hash-based decisions (mix_weighted_sources uses its own).""",
)
def sample_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    bucket = _phash(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
    return d.select(
        "doc_id",
        "source",
        bucket.alias("bucket"),
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    ).orderBy("doc_id")


@register(
    "mix_weighted_sources",
    oracle=f"""
        WITH s AS (
            SELECT doc_id, source,
                   25 + 25 * (CAST(substr(source, 4) AS INTEGER) % 4)
                       AS weight_pct,
                   {_PHASH_SQL.format(x="'mix:' || CAST(doc_id AS VARCHAR)")}
                       % 100 AS bucket
            FROM documents
        )
        SELECT source, CAST(MIN(weight_pct) AS BIGINT) AS weight_pct,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN bucket < weight_pct THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN bucket < weight_pct THEN 1 ELSE 0 END)
                    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS kept_frac
        FROM s GROUP BY source
        ORDER BY source
    """,
    doc="""Weighted source mixing — the data-mixture step that
    up/down-samples corpora to target proportions (weights here derive
    from the source id: 25/50/75/100%).  Selection is the same salted
    portable hash as sample_hash_split, so the chosen subset is
    deterministic and composes with the split (independent salts =
    independent decisions).  Per-source audit counts come out of one
    hash aggregate; the actual kept-rows stream is the same predicate
    applied as a filter — no shuffle at all in the sampling itself.""",
)
def mix_weighted_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    weight = 25 + 25 * (F.expr("substring(source, 4)").cast("int") % 4)
    bucket = _phash(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))) % 100
    kept = F.when(bucket < weight, 1).otherwise(0)
    return (
        d.select("source", weight.alias("weight_pct"), kept.alias("kept"))
        .groupBy("source")
        .agg(
            F.min("weight_pct").cast("bigint").alias("weight_pct"),
            F.count("*").alias("n_docs"),
            F.sum("kept").alias("n_kept"),
            (F.sum("kept").cast("double") / F.count("*").cast("double")).alias(
                "kept_frac"
            ),
        )
        .orderBy("source")
    )


_PACK_BUDGET = 256  # tokens per packed training sequence


@register(
    "pack_sequences",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, source,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
            FROM documents
        ),
        o AS (
            SELECT doc_id, source, n_tokens,
                   CAST(SUM(n_tokens) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) - n_tokens AS BIGINT) AS tok_offset
            FROM t
        )
        SELECT doc_id, source, n_tokens, tok_offset,
               tok_offset // {_PACK_BUDGET} AS seq_first,
               (tok_offset + n_tokens - 1) // {_PACK_BUDGET} AS seq_last,
               (tok_offset + n_tokens - 1) // {_PACK_BUDGET}
                   - tok_offset // {_PACK_BUDGET} + 1 AS n_seqs
        FROM o
        ORDER BY source, doc_id
    """,
    doc="""Concat-and-chunk sequence packing (the standard pretraining
    layout): documents are concatenated in stable order within each
    source shard and chopped into fixed {budget}-token sequences; each
    document reports the sequence range it lands in.  One running-sum
    window per shard — partitioned by source so no single-task global
    window exists; at 100 TB shards are the parallelism unit and a
    two-pass per-shard-offset + global-prefix variant removes even the
    within-shard skew.  All integer arithmetic (DIV), so the layout is
    bit-identical everywhere.""".format(budget=_PACK_BUDGET),
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " ")).cast("bigint")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = d.select("doc_id", "source", n_tok.alias("n_tokens"))
    off = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("tok_offset")
    o = t.select("doc_id", "source", "n_tokens", off)
    seq_first = F.expr(f"tok_offset DIV {_PACK_BUDGET}")
    seq_last = F.expr(f"(tok_offset + n_tokens - 1) DIV {_PACK_BUDGET}")
    return o.select(
        "doc_id",
        "source",
        "n_tokens",
        "tok_offset",
        seq_first.alias("seq_first"),
        seq_last.alias("seq_last"),
        (seq_last - seq_first + 1).alias("n_seqs"),
    ).orderBy("source", "doc_id")


_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PHONE_RE = r"\+1-555-[0-9]{4}"


@register(
    "pii_redact",
    oracle=f"""
        WITH injected AS (
            SELECT doc_id,
                   text || ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@example.com call +1-555-'
                        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                        || ' now' AS raw
            FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(raw, '{_EMAIL_RE}')) AS BIGINT)
                   AS n_emails,
               CAST(len(regexp_extract_all(raw, '{_PHONE_RE}')) AS BIGINT)
                   AS n_phones,
               regexp_replace(
                   regexp_replace(raw, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                   '{_PHONE_RE}', '<PHONE>', 'g') AS redacted
        FROM injected
        ORDER BY doc_id
    """,
    doc="""PII detection + redaction over text columns: count and mask
    email/phone patterns (regex classes shared verbatim by Java regex
    and RE2, so both engines see identical matches).  The fixture text
    contains no organic PII, so a deterministic per-doc synthetic tail
    is injected first — the redaction then provably removes it.
    Stateless regexp map, no shuffle; at 100 TB this fuses into the
    scan like any projection.""",
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com call +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" now"),
    )
    inj = d.select("doc_id", raw.alias("raw"))
    return inj.select(
        "doc_id",
        F.regexp_count("raw", F.lit(_EMAIL_RE)).cast("bigint").alias("n_emails"),
        F.regexp_count("raw", F.lit(_PHONE_RE)).cast("bigint").alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("raw", _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE,
            "<PHONE>",
        ).alias("redacted"),
    ).orderBy("doc_id")


@register(
    "sample_stratified",
    oracle=f"""
        WITH r AS (
            SELECT doc_id, lang, source,
                   5 + {_PHASH_SQL.format(x="lang")} % 50 AS rate_pct,
                   {_PHASH_SQL.format(x="'strat:' || CAST(doc_id AS VARCHAR)")}
                       % 100 AS bucket
            FROM documents
        )
        SELECT doc_id, lang, source, rate_pct, bucket
        FROM r WHERE bucket < rate_pct
        ORDER BY doc_id
    """,
    doc="""Stratified sampling with per-stratum rates: each language
    stratum gets its own sampling rate (derived here from a hash of the
    stratum key so the demo is self-contained; production passes a rate
    map), and membership is the salted portable hash of the document id
    — so unlike sampleBy()'s RNG draw, the SAME rows are selected on
    every engine, run, and partition layout, and re-running after new
    data arrives never evicts previously sampled rows.

    Scale: a stateless filter fused into the scan — zero shuffle, no
    sampleBy seed coordination across executors.  Returns the kept
    stream itself (mix_weighted_sources is the audit-aggregate dual).""",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    rate = (F.lit(5) + _phash(F.col("lang")) % 50).alias("rate_pct")
    bucket = (
        _phash(F.concat(F.lit("strat:"), F.col("doc_id").cast("string"))) % 100
    ).alias("bucket")
    return (
        d.select("doc_id", "lang", "source", rate, bucket)
        .where(F.col("bucket") < F.col("rate_pct"))
        .orderBy("doc_id")
    )


_RESERVOIR_K = 5


@register(
    "sample_reservoir_group",
    oracle=f"""
        WITH h AS (
            SELECT doc_id, source, lang,
                   {_PHASH_SQL.format(x="'res:' || CAST(doc_id AS VARCHAR)")}
                       AS hkey
            FROM documents
        ),
        r AS (
            SELECT doc_id, source, lang,
                   CAST(row_number() OVER (
                       PARTITION BY source ORDER BY hkey, doc_id
                   ) AS BIGINT) AS rn
            FROM h
        )
        SELECT doc_id, source, lang, rn
        FROM r WHERE rn <= {_RESERVOIR_K}
        ORDER BY source, rn
    """,
    doc="""Deterministic k-per-group reservoir sample: order each group
    by a salted content hash and keep the first k — a uniform-without-
    replacement sample per group whose selection is a pure function of
    the ids (same sample everywhere, stable under reruns and
    repartitions), unlike rand()-ranked reservoirs.

    Scale: this is window_topk_per_group with the hash as the ranking
    key, so the same optimization applies — map-side partial top-k
    (AQE + rank pushdown in Spark 4 prunes per-partition) before the
    single shuffle on the group key; k rows per group ever cross the
    wire.""",
)
def sample_reservoir_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    hkey = _phash(F.concat(F.lit("res:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(hkey.asc(), F.col("doc_id").asc())
    return (
        d.select(
            "doc_id",
            "source",
            "lang",
            F.row_number().over(w).cast("bigint").alias("rn"),
        )
        .where(F.col("rn") <= _RESERVOIR_K)
        .orderBy("source", "rn")
    )


_CHUNK_WIN = 500  # chars per training chunk
_CHUNK_STRIDE = 400  # 100-char overlap between consecutive chunks


@register(
    "chunk_documents",
    oracle=f"""
        WITH offs AS (
            SELECT doc_id,
                   CAST(off AS BIGINT) AS chunk_start,
                   CAST(row_number() OVER (PARTITION BY doc_id ORDER BY off)
                        - 1 AS BIGINT) AS chunk_idx,
                   substr(text, off, {_CHUNK_WIN}) AS chunk
            FROM documents,
                 unnest(generate_series(
                     1, greatest(length(text), 1), {_CHUNK_STRIDE})) AS u(off)
        )
        SELECT doc_id, chunk_idx, chunk_start,
               CAST(length(chunk) AS BIGINT) AS chunk_len,
               md5(chunk) AS chunk_md5
        FROM offs
        ORDER BY doc_id, chunk_idx
    """,
    doc=f"""Context-window chunking with overlap — the step that turns
    variable-length documents into model-sized training windows
    ({_CHUNK_WIN}-char windows, {_CHUNK_STRIDE}-char stride = 
    {_CHUNK_WIN - _CHUNK_STRIDE}-char overlap so no boundary context is
    lost).  Offsets come from an in-row sequence() + posexplode — the
    fan-out happens inside the row with zero shuffle and no UDF; every
    document yields >= 1 chunk.  Output carries the chunk's md5 (its
    dedup/lineage key) rather than the text, which is what a chunk
    manifest stores at 100 TB; the presentation sort is the only
    exchange in the plan.""",
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    offs = F.sequence(
        F.lit(1), F.greatest(F.length("text"), F.lit(1)), F.lit(_CHUNK_STRIDE)
    )
    chunk = F.expr(f"substring(text, chunk_start, {_CHUNK_WIN})")
    return (
        d.select("doc_id", "text", F.posexplode(offs).alias("idx", "chunk_start"))
        .select(
            "doc_id",
            F.col("idx").cast("bigint").alias("chunk_idx"),
            F.col("chunk_start").cast("bigint"),
            F.length(chunk).cast("bigint").alias("chunk_len"),
            F.md5(chunk).alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


_TEMP_SCALE = 10**6  # fixed-point quantum for sqrt(count) weights


@register(
    "sample_temperature",
    oracle=f"""
        WITH c AS (
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY lang
        ),
        s AS (
            SELECT lang, n_docs,
                   CAST(ROUND(sqrt(CAST(n_docs AS DOUBLE)) * {_TEMP_SCALE})
                        AS BIGINT) AS w_scaled
            FROM c
        )
        SELECT lang, n_docs, w_scaled,
               CAST(w_scaled AS DOUBLE)
                   / CAST(SUM(w_scaled) OVER () AS DOUBLE) AS weight,
               CAST((w_scaled * 1000000) // SUM(w_scaled) OVER ()
                    AS BIGINT) AS target_per_million
        FROM s
        ORDER BY lang
    """,
    doc="""Temperature-scaled language mixing (alpha = 0.5): sampling
    weights proportional to count^alpha flatten the language
    distribution the way multilingual pretraining mixtures do
    (up-weights tail languages, down-weights the head).  Exactness:
    sqrt is IEEE-correctly-rounded so both engines produce the same
    double, which is immediately quantized to a scaled BIGINT; the
    normalizing sum is then integer (order-free), and the published
    weight / per-million target are a single division / integer floor-div
    off the integer pair.  One tiny hash aggregate + a broadcast-sized
    window over ~#languages rows — nothing here grows with corpus size
    except the first count.""",
)
def sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    c = d.groupBy("lang").agg(F.count("*").alias("n_docs"))
    # bounded input: <= #languages aggregate rows, declared single
    # partition (plans/ranking.bounded_window_key)
    w = Window.partitionBy(bounded_window_key("n_docs"))
    s = c.withColumn(
        "w_scaled",
        F.round(F.sqrt(F.col("n_docs").cast("double")) * _TEMP_SCALE).cast("bigint"),
    )
    s = s.withColumn("tot_scaled", F.sum("w_scaled").over(w))
    return s.select(
        "lang",
        "n_docs",
        "w_scaled",
        (F.col("w_scaled").cast("double") / F.col("tot_scaled").cast("double")).alias(
            "weight"
        ),
        # integer floor-division (Spark `div` == DuckDB `//`) — a double
        # quotient truncate-cast could round across the floor boundary
        F.expr("w_scaled * CAST(1000000 AS BIGINT) div tot_scaled").alias(
            "target_per_million"
        ),
    ).orderBy("lang")


@register(
    "pipeline_funnel",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, text, n_chars FROM documents
            WHERE doc_id % 97 <> 0
        ),
        t AS (
            SELECT doc_id, text, n_chars, string_split(text, ' ') AS w
            FROM d
        ),
        q AS (
            SELECT doc_id, text FROM t
            WHERE CAST(len(w) AS BIGINT) >= {_QG_MIN_TOKENS}
              AND CAST(n_chars AS DOUBLE) / CAST(len(w) AS DOUBLE)
                      >= {_QG_MIN_AVG_LEN}
              AND CAST(n_chars AS DOUBLE) / CAST(len(w) AS DOUBLE)
                      <= {_QG_MAX_AVG_LEN}
              AND CAST(len(list_distinct(w)) AS DOUBLE)
                      / CAST(len(w) AS DOUBLE) >= {_QG_MIN_TTR}
              AND CAST(len(list_filter(w, x -> x IN {_QG_STOPWORDS!r}))
                       AS DOUBLE) / CAST(len(w) AS DOUBLE)
                      <= {_QG_MAX_STOP}
        ),
        canon AS (
            SELECT doc_id,
                   row_number() OVER (PARTITION BY md5(text)
                                      ORDER BY doc_id) AS rn
            FROM q
        ),
        c2 AS (SELECT doc_id FROM canon WHERE rn = 1),
        allg AS (
            SELECT DISTINCT doc_id,
                   ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS g3
            FROM (SELECT doc_id, string_split(text, ' ') AS ws
                  FROM documents) w,
                 unnest(generate_series(1, len(ws) - 2)) AS u(i)
            WHERE len(ws) >= 3
        ),
        bench AS (
            SELECT DISTINCT g3 FROM allg WHERE doc_id % 97 = 0
        ),
        contam AS (
            SELECT DISTINCT g.doc_id
            FROM allg g JOIN bench b USING (g3)
            WHERE g.doc_id % 97 <> 0
        ),
        c3 AS (
            SELECT doc_id FROM c2
            WHERE doc_id NOT IN (SELECT doc_id FROM contam)
        ),
        sp AS (
            SELECT doc_id,
                   CASE WHEN b < 80 THEN 'train'
                        WHEN b < 90 THEN 'val'
                        ELSE 'test' END AS split
            FROM (SELECT doc_id,
                         {_PHASH_SQL.format(
                             x="'split:' || CAST(doc_id AS VARCHAR)")}
                             % 100 AS b
                  FROM c3)
        )
        SELECT * FROM (
            SELECT CAST(0 AS BIGINT) AS stage_idx, 'corpus' AS stage,
                   (SELECT COUNT(*) FROM d) AS n_docs
            UNION ALL
            SELECT 1, 'quality_pass', (SELECT COUNT(*) FROM q)
            UNION ALL
            SELECT 2, 'deduped', (SELECT COUNT(*) FROM c2)
            UNION ALL
            SELECT 3, 'decontaminated', (SELECT COUNT(*) FROM c3)
            UNION ALL
            SELECT 4, 'split_train',
                   (SELECT COUNT(*) FROM sp WHERE split = 'train')
            UNION ALL
            SELECT 5, 'split_val',
                   (SELECT COUNT(*) FROM sp WHERE split = 'val')
            UNION ALL
            SELECT 6, 'split_test',
                   (SELECT COUNT(*) FROM sp WHERE split = 'test')
        )
        ORDER BY stage_idx
    """,
    doc="""End-to-end training-data funnel: the whole pre-tokenization
    pipeline — quality gate, exact dedup (keep-first), benchmark
    decontamination, hash split — composed in one report that shows how
    many documents survive each stage.  Every stage reuses the exact
    semantics of its standalone operator (quality_gate, dedup_exact,
    decontaminate_ngram, sample_hash_split), so the funnel doubles as
    an integration test that the stages compose.  Shape at scale: the
    per-doc flags are map-side; the dedup window shuffles once on the
    text hash; the contamination check is one broadcast semi-join on
    the (tiny) benchmark gram set; the seven output rows are unioned
    scalar aggregates.  This is the report a data-engineering team
    pins to the wall of every pretraining run.""",
)
def pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE pass computes every per-doc flag; the seven funnel counts are
    # conditional sums of the flags, transposed to long form via stack.
    # (The first, 7-branch formulation re-planned the documents scan per
    # stage — 7 scans for 7 numbers.  The flags form is the 100 TB
    # shape: one scan, one window shuffle, one broadcast semi-join.)
    d = spread(table(spark, sf_dir, "documents"), "doc_id").where(
        F.col("doc_id") % 97 != 0
    )
    w = F.split("text", " ")
    n_tok = F.size(w).cast("bigint")
    avg_len = F.col("n_chars").cast("double") / n_tok.cast("double")
    ttr = F.size(F.array_distinct(w)).cast("double") / n_tok.cast("double")
    stop = (
        F.size(F.filter(w, lambda x: x.isin(*_QG_STOPWORDS))).cast("double")
        / n_tok.cast("double")
    )
    pass_q = (
        (n_tok >= _QG_MIN_TOKENS)
        & (avg_len >= _QG_MIN_AVG_LEN)
        & (avg_len <= _QG_MAX_AVG_LEN)
        & (ttr >= _QG_MIN_TTR)
        & (stop <= _QG_MAX_STOP)
    )
    flags = d.select(
        "doc_id", "text", pass_q.alias("pass_q"), F.md5("text").alias("h")
    )
    # canonical = the min-doc_id quality-passer of its hash group
    # (filtered-min window == the rn=1-over-quality-rows of the oracle)
    wnd = Window.partitionBy("h")
    flags = flags.withColumn(
        "canon",
        F.col("pass_q")
        & (F.col("doc_id") == F.min(F.when(F.col("pass_q"), F.col("doc_id"))).over(wnd)),
    )

    alldocs = table(spark, sf_dir, "documents")
    # HASHED grams in the slice+arrays_zip shape (_shingle_hashes):
    # contamination here is a pure gram-equality semi-join feeding a
    # boolean flag, so longs cross the exchanges instead of 3-word
    # strings, and the split evaluates once per row instead of once per
    # element (the 7x trap) — same rewrite as pipeline_corpus_build
    # (r13 waves 11-12), same documented 64-bit collision tolerance.
    # <3-word docs yield an empty array and are dropped by the explode.
    from kafka_hadoop_loader_spark.operators.dedup import _shingle_hashes

    grams = spread(alldocs, "doc_id").select(
        "doc_id", F.explode(_shingle_hashes(F.col("text"))).alias("g3")
    )
    bench = grams.where(F.col("doc_id") % 97 == 0).select("g3").distinct()
    contam = (
        grams.where(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(bench), "g3", "semi")
        .select("doc_id")
        .distinct()
        .withColumn("contam", F.lit(True))
    )
    # The bench gram broadcast above is BOUNDED (the benchmark slice) and
    # safe at any corpus size.  `contam` is NOT: it is the set of
    # contaminated corpus doc_ids and grows with the corpus (even 1% of
    # 100 TB of doc_ids blows the broadcast ceiling), so — exactly as in
    # pipeline_corpus_build — the join strategy is left to AQE, which
    # picks broadcast vs shuffle from the measured size.
    flags = flags.join(contam, "doc_id", "left").withColumn(
        "clean", F.col("canon") & F.col("contam").isNull()
    )

    bucket = _phash(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
    flags = flags.withColumn(
        "split",
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"),
    )

    one = lambda c: F.sum(c.cast("bigint"))  # noqa: E731
    counts = flags.agg(
        F.count("*").alias("c0"),
        one(F.col("pass_q")).alias("c1"),
        one(F.col("canon")).alias("c2"),
        one(F.col("clean")).alias("c3"),
        one(F.col("clean") & (F.col("split") == "train")).alias("c4"),
        one(F.col("clean") & (F.col("split") == "val")).alias("c5"),
        one(F.col("clean") & (F.col("split") == "test")).alias("c6"),
    )
    stages = (
        "corpus",
        "quality_pass",
        "deduped",
        "decontaminated",
        "split_train",
        "split_val",
        "split_test",
    )
    stack_args = ", ".join(
        f"CAST({i} AS BIGINT), '{s}', c{i}" for i, s in enumerate(stages)
    )
    return counts.selectExpr(
        f"stack(7, {stack_args}) AS (stage_idx, stage, n_docs)"
    ).orderBy("stage_idx")


@register(
    "url_canonicalize",
    oracle="""
        WITH u AS (
            SELECT doc_id,
                   'HTTPS://WWW.' || upper(source) || '.Example.COM:443/Docs/'
                   || CAST(doc_id AS VARCHAR) || '/?utm_source=feed&q='
                   || lang || '&utm_campaign=c' || CAST(doc_id % 3 AS VARCHAR)
                       AS url
            FROM documents
        ),
        parts AS (
            SELECT doc_id, url,
                   lower(regexp_extract(url, '^[A-Za-z]+://([^/:?#]+)', 1))
                       AS host,
                   regexp_extract(url, '^[A-Za-z]+://[^/?#]+(/[^?#]*)', 1)
                       AS path,
                   regexp_extract(url, '\\?(.*)$', 1) AS query
            FROM u
        ),
        cleaned AS (
            SELECT doc_id, host, path,
                   array_to_string(
                       list_filter(string_split(query, '&'),
                                   p -> p NOT LIKE 'utm_%'),
                       '&') AS clean_query
            FROM parts
        )
        SELECT doc_id, host, path, clean_query,
               'https://' || host || path
               || CASE WHEN clean_query <> '' THEN '?' || clean_query
                       ELSE '' END AS canonical_url,
               md5('https://' || host || path
                   || CASE WHEN clean_query <> '' THEN '?' || clean_query
                           ELSE '' END) AS url_key
        FROM cleaned
        ORDER BY doc_id
    """,
    doc="""URL canonicalization — the first step of web-corpus dedup
    (same page, many spellings): parse host/path/query with Spark's
    parse_url, lowercase the host, drop the default port, strip
    utm_* tracking parameters with an in-row higher-order filter, and
    emit the canonical form plus its md5 dedup key.  The demo URLs are
    constructed from fixture columns (mixed case, port, tracking
    params all present so each rule provably fires).  Stateless map,
    zero shuffle before the presentation sort; the url_key column is
    what dedup_exact groups on in a real web pipeline.  Oracle parses
    with regexes — proving parse_url's semantics, not assuming them.""",
)
def url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTPS://WWW."),
        F.upper("source"),
        F.lit(".Example.COM:443/Docs/"),
        F.col("doc_id").cast("string"),
        F.lit("/?utm_source=feed&q="),
        F.col("lang"),
        F.lit("&utm_campaign=c"),
        (F.col("doc_id") % 3).cast("string"),
    )
    parts = d.select(
        "doc_id",
        url.alias("url"),
        F.lower(F.parse_url(url, F.lit("HOST"))).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
    )
    clean_q = F.array_join(
        F.filter(
            F.split("query", "&"), lambda p: ~p.startswith("utm_")
        ),
        "&",
    )
    cleaned = parts.select("doc_id", "host", "path", clean_q.alias("clean_query"))
    canonical = F.concat(
        F.lit("https://"),
        F.col("host"),
        F.col("path"),
        F.when(
            F.col("clean_query") != "", F.concat(F.lit("?"), F.col("clean_query"))
        ).otherwise(""),
    )
    return cleaned.select(
        "doc_id",
        "host",
        "path",
        "clean_query",
        canonical.alias("canonical_url"),
        F.md5(canonical).alias("url_key"),
    ).orderBy("doc_id")


_PRI_K = 5


@register(
    "sample_weighted_priority",
    oracle=f"""
        WITH pri AS (
            SELECT doc_id, source, n_chars,
                   1 + {_PHASH_SQL.format(
                       x="'pri:' || CAST(doc_id AS VARCHAR)")} % 1099511627776
                       AS u
            FROM documents
        )
        SELECT doc_id, source, n_chars,
               CAST(rnk AS BIGINT) AS rnk
        FROM (
            SELECT doc_id, source, n_chars,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY CAST(n_chars AS DOUBLE) / CAST(u AS DOUBLE)
                                    DESC,
                                doc_id
                   ) AS rnk
            FROM pri
        )
        WHERE rnk <= {_PRI_K}
        ORDER BY source, rnk
    """,
    doc=f"""Weighted priority sampling (Duffield-Lund-Thorup): top-{_PRI_K}
    documents per source by priority weight/u, u a salted portable-hash
    uniform — longer documents are proportionally likelier to be drawn,
    and the inclusion decisions support unbiased subset-sum estimation
    (the scheme's defining property).  Like every sampler here the draw
    is a pure function of the stable id: reproducible across engines,
    reruns, and repartitions, composable with the other hash-salted
    decisions.  Both engines evaluate the identical double quotient
    w/u (one IEEE division of identical operands), ties broken by id.
    Plan: window top-k per group — map-side rank pruning before the one
    shuffle on source.""",
)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    u = (
        _phash(F.concat(F.lit("pri:"), F.col("doc_id").cast("string")))
        % F.lit(1099511627776).cast("long")
    ) + 1
    pri = F.col("n_chars").cast("double") / u.cast("double")
    w = Window.partitionBy("source").orderBy(pri.desc(), F.col("doc_id"))
    return (
        d.select(
            "doc_id",
            "source",
            "n_chars",
            F.row_number().over(w).cast("bigint").alias("rnk"),
        )
        .where(F.col("rnk") <= _PRI_K)
        .orderBy("source", "rnk")
    )


_CUR_BANDS = 10


@register(
    "curriculum_order",
    oracle=f"""
        WITH s AS (
            SELECT doc_id,
                   CAST(len(list_distinct(string_split(text, ' ')))
                        AS DOUBLE)
                       / CAST(len(string_split(text, ' ')) AS DOUBLE)
                       AS difficulty
            FROM documents
        ),
        banded AS (
            SELECT doc_id, difficulty,
                   CAST(ntile({_CUR_BANDS}) OVER (ORDER BY difficulty, doc_id)
                        AS BIGINT) AS band
            FROM s
        )
        SELECT doc_id, band,
               CAST(row_number() OVER (
                   PARTITION BY band
                   ORDER BY {_PHASH_SQL.format(
                       x="'cur:' || CAST(doc_id AS VARCHAR)")}, doc_id
               ) AS BIGINT) AS seq_in_band
        FROM banded
        ORDER BY band, seq_in_band
    """,
    doc=f"""Curriculum data ordering: rank documents by a difficulty
    proxy (type-token ratio — lexical diversity), cut into
    {_CUR_BANDS} equal-frequency bands (ntile), and give each band a
    DETERMINISTIC shuffle via the salted portable hash — easy bands
    first, random within band, reproducible everywhere.  This is the
    data-ordering knob of curriculum training, expressed so the
    schedule is a pure function of content ids (re-runs and engine
    changes cannot silently reorder the curriculum).  Two windows: the
    global ntile (at 100 TB: replace with rank-against-broadcast-
    quantile-cuts from quantiles_exact, same bands without the global
    sort) and a per-band shuffle that partitions cleanly.""",
)
def curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    difficulty = (
        F.size(F.array_distinct(w)).cast("double") / F.size(w).cast("double")
    )
    s = d.select("doc_id", difficulty.alias("difficulty"))
    # exact distributed ntile (plans/ranking.py two-phase rank): no
    # single-partition window over the corpus.
    banded = two_phase_rank(
        s, "difficulty", [F.col("difficulty"), F.col("doc_id")],
        ntile=("band", _CUR_BANDS),
    ).select("doc_id", "band")
    hkey = _phash(F.concat(F.lit("cur:"), F.col("doc_id").cast("string")))
    ws = Window.partitionBy("band").orderBy(hkey.asc(), F.col("doc_id").asc())
    return (
        banded.select(
            "doc_id",
            "band",
            F.row_number().over(ws).cast("bigint").alias("seq_in_band"),
        )
        .orderBy("band", "seq_in_band")
    )


@register(
    "pack_padding_waste",
    oracle="""
        WITH t AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
            FROM documents
        ),
        b AS (
            SELECT doc_id, n_tokens,
                   CASE WHEN n_tokens <= 64 THEN 64
                        WHEN n_tokens <= 128 THEN 128
                        WHEN n_tokens <= 256 THEN 256
                        ELSE 512 END AS bucket_len
            FROM t
        )
        SELECT bucket_len,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS payload_tokens,
               CAST(SUM(bucket_len - n_tokens) AS BIGINT) AS padding_tokens,
               CAST(SUM(n_tokens) AS DOUBLE)
                   / CAST(SUM(CAST(bucket_len AS BIGINT)) AS DOUBLE)
                   AS utilization
        FROM b
        GROUP BY bucket_len
        ORDER BY bucket_len
    """,
    doc="""Padding-waste audit: if each document trained as its own
    padded sequence (bucketed to 64/128/256/512), how many tokens are
    payload vs pad — the utilization number that justifies
    pack_sequences (concat-packing wastes ~0%; length-bucketed padding
    typically wastes 20-40%).  Per-bucket counts, waste, and the
    utilization ratio as one exact division.  Stateless bucketing +
    one aggregate; this is the report that decides the packing policy
    for a training run, computed before committing to either.""",
)
def pack_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " ")).cast("bigint")
    bucket = (
        F.when(n_tok <= 64, 64)
        .when(n_tok <= 128, 128)
        .when(n_tok <= 256, 256)
        .otherwise(512)
        .cast("bigint")
    )
    b = d.select(n_tok.alias("n_tokens"), bucket.alias("bucket_len"))
    return (
        b.groupBy("bucket_len")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("payload_tokens"),
            F.sum(F.col("bucket_len") - F.col("n_tokens")).alias(
                "padding_tokens"
            ),
            (
                F.sum("n_tokens").cast("double")
                / F.sum("bucket_len").cast("double")
            ).alias("utilization"),
        )
        .orderBy("bucket_len")
    )


@register(
    "mixture_solve_rates",
    oracle="""
        WITH src AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
                        AS BIGINT) AS src_tokens
            FROM documents
            GROUP BY source
        ),
        tot AS (
            SELECT CAST(SUM(src_tokens) AS BIGINT) AS total_tokens,
                   CAST(COUNT(*) AS BIGINT) AS n_sources
            FROM src
        )
        SELECT s.source,
               s.n_docs,
               s.src_tokens,
               CAST(t.total_tokens // t.n_sources AS BIGINT) AS target_tokens,
               CAST(t.total_tokens // t.n_sources AS DOUBLE)
                   / CAST(s.src_tokens AS DOUBLE) AS rate,
               CAST(t.total_tokens // t.n_sources AS DOUBLE)
                   / CAST(s.src_tokens AS DOUBLE) > 2.0 AS over_epoch_cap,
               CAST(CASE WHEN CAST(t.total_tokens // t.n_sources AS DOUBLE)
                              / CAST(s.src_tokens AS DOUBLE) > 2.0
                         THEN 2 * s.src_tokens
                         ELSE t.total_tokens // t.n_sources END
                    AS BIGINT) AS planned_tokens
        FROM src s CROSS JOIN tot t
        ORDER BY s.source
    """,
    doc="""Data-mixture rate solving: given a target token share per
    source (uniform here — the declared mixture a training run wants),
    compute each source's sampling rate = target/available, flag
    sources that would need more than the epoch cap (2 passes) of
    repetition to hit target, and emit the planned token budget with
    the cap applied.  This is the planning step that turns a mixture
    spec (à la Pile/Dolma weights) into concrete per-source sampling
    rates fed to mix_weighted_sources.

    Determinism: token counts and targets are exact BIGINT (integer
    floor-division for the target); `rate` is a single IEEE division;
    the cap compare and planned budget stay integral.

    Scale: one hash aggregate over the corpus (map-side combined) to a
    |sources|-row table, then a 1-row broadcast cross join — the plan
    is O(corpus scan) with no fact-sized shuffle at all.""",
)
def mixture_solve_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " ")).cast("bigint")).alias("src_tokens"),
    )
    tot = src.agg(
        F.sum("src_tokens").alias("total_tokens"),
        F.count("*").alias("n_sources"),
    )
    target = F.expr("total_tokens DIV n_sources")  # integer division, matches oracle's //
    rate = F.col("target_tokens").cast("double") / F.col("src_tokens").cast("double")
    return (
        src.crossJoin(F.broadcast(tot))
        .withColumn("target_tokens", target)
        .withColumn("rate", rate)
        .withColumn("over_epoch_cap", F.col("rate") > 2.0)
        .select(
            "source",
            "n_docs",
            "src_tokens",
            "target_tokens",
            "rate",
            "over_epoch_cap",
            F.when(F.col("over_epoch_cap"), 2 * F.col("src_tokens"))
            .otherwise(F.col("target_tokens"))
            .cast("bigint")
            .alias("planned_tokens"),
        )
        .orderBy("source")
    )


_KANON_K = 5


@register(
    "k_anonymity_suppress",
    oracle=f"""
        WITH g AS (
            SELECT c_nationkey AS nationkey, c_mktsegment AS mktsegment,
                   CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
                   CAST(COUNT(*) AS BIGINT) AS group_n
            FROM customer
            GROUP BY 1, 2, 3
        )
        SELECT nationkey, mktsegment, bal_band, group_n,
               (group_n < {_KANON_K}) AS suppress,
               CASE WHEN group_n < {_KANON_K} THEN group_n ELSE 0 END
                   AS n_rows_suppressed
        FROM g
        ORDER BY nationkey, mktsegment, bal_band
    """,
    doc=f"""k-anonymity audit (k = {_KANON_K}) over the quasi-identifier
    tuple (nation, market segment, account-balance band): any
    equivalence class smaller than k re-identifies its members, so the
    release pipeline must suppress or generalize those rows — this
    emits the per-class census with the suppress verdict, the table a
    privacy gate anti-joins against before publishing (the structural
    complement of pii_redact, which handles direct identifiers).

    Determinism: the balance band is FLOOR of an exact-decimal/1000
    division evaluated with identical expression text in both engines;
    everything else is integer counts.

    Scale: one map-side-combining hash aggregate over the
    quasi-identifier grain — the census is O(|classes|), never
    O(|rows|), and generalization ladders (coarser bands) just re-run
    the same aggregate on a coarser key.""",
)
def k_anonymity_suppress(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    g = (
        c.groupBy(
            F.col("c_nationkey").alias("nationkey"),
            F.col("c_mktsegment").alias("mktsegment"),
            F.floor(F.col("c_acctbal") / 1000.0).cast("bigint").alias("bal_band"),
        )
        .agg(F.count("*").alias("group_n"))
    )
    return (
        g.select(
            "nationkey",
            "mktsegment",
            "bal_band",
            "group_n",
            (F.col("group_n") < _KANON_K).alias("suppress"),
            F.when(F.col("group_n") < _KANON_K, F.col("group_n"))
            .otherwise(0)
            .cast("bigint")
            .alias("n_rows_suppressed"),
        )
        .orderBy("nationkey", "mktsegment", "bal_band")
    )



# --- l-diversity audit -------------------------------------------------

_LDIV_L = 3


@register(
    "l_diversity_audit",
    oracle=f"""
        WITH cell AS (
            SELECT c_nationkey AS nationkey, c_mktsegment AS mktsegment,
                   CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS sens,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM customer
            GROUP BY 1, 2, 3
        )
        SELECT nationkey, mktsegment,
               CAST(SUM(n) AS BIGINT) AS group_n,
               CAST(COUNT(*) AS BIGINT) AS distinct_sensitive,
               CAST(MAX(n) AS BIGINT) AS top_sensitive_n,
               COUNT(*) >= {_LDIV_L} AS l_diverse,
               MAX(n) * 2 > SUM(n) AS homogeneity_risk
        FROM cell GROUP BY nationkey, mktsegment
        ORDER BY nationkey, mktsegment
    """,
    doc=f"""l-diversity audit (distinct-l, l = {_LDIV_L}) over the
    quasi-identifier pair (nation, market segment) with the
    account-balance band as the SENSITIVE attribute — the privacy gate
    k-anonymity alone cannot provide (Machanavajjhala et al.): a class
    can hold >= k members yet leak the sensitive value outright when
    all members share it.  Emits per-class size, distinct sensitive
    values, the modal sensitive count, the distinct-l verdict, and a
    homogeneity-risk flag (modal value covers the strict majority —
    the cross-multiplied 2*max > n form, no division).

    Complements k_anonymity_suppress: same census machinery, one grain
    coarser on the QI side so the sensitive attribute stays OUT of the
    key; a release pipeline applies both gates.

    Scale: two stacked map-side-combining hash aggregates —
    (QI, sensitive) grain then QI grain — state O(|classes|), never
    O(|rows|); all-integer arithmetic end to end.""",
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    cell = c.groupBy(
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_mktsegment").alias("mktsegment"),
        F.floor(F.col("c_acctbal") / 1000.0).cast("bigint").alias("sens"),
    ).agg(F.count("*").cast("bigint").alias("n"))
    return (
        cell.groupBy("nationkey", "mktsegment")
        .agg(
            F.sum("n").cast("bigint").alias("group_n"),
            F.count("*").cast("bigint").alias("distinct_sensitive"),
            F.max("n").cast("bigint").alias("top_sensitive_n"),
        )
        .select(
            "nationkey",
            "mktsegment",
            "group_n",
            "distinct_sensitive",
            "top_sensitive_n",
            (F.col("distinct_sensitive") >= _LDIV_L).alias("l_diverse"),
            (F.col("top_sensitive_n") * 2 > F.col("group_n")).alias(
                "homogeneity_risk"
            ),
        )
        .orderBy("nationkey", "mktsegment")
    )


# --- t-closeness audit --------------------------------------------------

_TCLOSE_INV_T = 5  # t = 1/5 = 0.2, as the exact rational 1/_TCLOSE_INV_T


@register(
    "t_closeness_audit",
    oracle=f"""
        WITH cell AS (
            SELECT c_nationkey AS nationkey, c_mktsegment AS mktsegment,
                   CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS band,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM customer GROUP BY 1, 2, 3
        ),
        bands AS (
            SELECT band, CAST(SUM(n) AS BIGINT) AS g_n FROM cell GROUP BY 1
        ),
        classes AS (
            SELECT nationkey, mktsegment, CAST(SUM(n) AS BIGINT) AS group_n
            FROM cell GROUP BY 1, 2
        ),
        tot AS (SELECT CAST(SUM(g_n) AS BIGINT) AS big_n,
                       CAST(COUNT(*) AS BIGINT) AS m FROM bands),
        dense AS (
            SELECT c.nationkey, c.mktsegment, c.group_n, b.band, b.g_n,
                   COALESCE(cl.n, 0) AS n
            FROM classes c CROSS JOIN bands b
            LEFT JOIN cell cl ON cl.nationkey = c.nationkey
                 AND cl.mktsegment = c.mktsegment AND cl.band = b.band
        ),
        cum AS (
            SELECT nationkey, mktsegment, group_n, band,
                   CAST(SUM(n) OVER w AS BIGINT) AS cum_c,
                   CAST(SUM(g_n) OVER w AS BIGINT) AS cum_g
            FROM dense
            WINDOW w AS (PARTITION BY nationkey, mktsegment ORDER BY band)
        ),
        emd AS (
            SELECT nationkey, mktsegment, group_n,
                   CAST(SUM(ABS(cum_c * t.big_n - cum_g * group_n))
                        AS BIGINT) AS emd_num,
                   MAX(t.big_n) AS big_n, MAX(t.m) AS m
            FROM cum, tot t GROUP BY 1, 2, 3
        )
        SELECT nationkey, mktsegment, group_n, emd_num,
               CAST(emd_num AS DOUBLE)
                   / (CAST(group_n AS DOUBLE) * CAST(big_n AS DOUBLE)
                      * CAST(m - 1 AS DOUBLE)) AS emd,
               emd_num * {_TCLOSE_INV_T} <= group_n * big_n * (m - 1)
                   AS t_close_ok
        FROM emd ORDER BY nationkey, mktsegment
    """,
    doc=f"""t-closeness audit (t = 1/{_TCLOSE_INV_T}) — the third privacy
    gate after k_anonymity_suppress and l_diversity_audit (Li, Li &
    Venkatasubramanian 2007): a class can be k-anonymous AND l-diverse
    yet still leak when its sensitive-value DISTRIBUTION diverges from
    the table's (e.g. a class holding only the two highest balance
    bands).  Per QI class (nation, market segment), computes the Earth
    Mover's Distance between the class's account-balance-band
    distribution and the global one under the ordered-attribute ground
    distance, via the closed form EMD = sum_i |P_cum(i) - Q_cum(i)| /
    (m-1).

    Determinism: each cumulative-difference term is the exact BIGINT
    cross-multiplication cum_class*N - cum_global*n_class (order-free
    integer sums), the emd double is ONE division of that exact
    numerator by a left-associated product of three exact casts, and
    the verdict is the fully-integer cross-multiplied form
    emd_num * {_TCLOSE_INV_T} <= n_class * N * (m-1) — no float ever
    feeds a comparison.

    Scale: three stacked map-side-combining aggregates at (QI, band),
    (band), and (QI) grains — O(|classes| x |bands|) state, never
    O(|rows|); the dense spine is a broadcast cross join of the two
    tiny dims and the cumulative window partitions by class (m rows
    per partition).  int64-exact while n_class * N < 2^63 (N ~ 3e9
    rows); past that, route the same plan through DECIMAL(38) — the
    shape is unchanged.""",
)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_hadoop_loader_spark.catalog import managed_persist

    c = table(spark, sf_dir, "customer")
    # cell feeds three consumers (bands, classes, the dense left join);
    # one lazy lineage cut keeps the O(|rows|) customer scan single.
    cell = managed_persist(
        f"t_closeness_audit:cell:{sf_dir}",
        c.groupBy(
            F.col("c_nationkey").alias("nationkey"),
            F.col("c_mktsegment").alias("mktsegment"),
            F.floor(F.col("c_acctbal") / 1000.0).cast("bigint").alias("band"),
        ).agg(F.count("*").cast("bigint").alias("n")),
    )
    bands = cell.groupBy("band").agg(F.sum("n").cast("bigint").alias("g_n"))
    classes = cell.groupBy("nationkey", "mktsegment").agg(
        F.sum("n").cast("bigint").alias("group_n")
    )
    tot = bands.agg(
        F.sum("g_n").cast("bigint").alias("big_n"),
        F.count("*").cast("bigint").alias("m"),
    )
    dense = (
        classes.crossJoin(F.broadcast(bands))
        .join(cell, ["nationkey", "mktsegment", "band"], "left")
        .select(
            "nationkey",
            "mktsegment",
            "group_n",
            "band",
            "g_n",
            F.coalesce("n", F.lit(0).cast("bigint")).alias("n"),
        )
    )
    w = (
        Window.partitionBy("nationkey", "mktsegment")
        .orderBy("band")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = dense.select(
        "nationkey",
        "mktsegment",
        "group_n",
        F.sum("n").over(w).cast("bigint").alias("cum_c"),
        F.sum("g_n").over(w).cast("bigint").alias("cum_g"),
    )
    emd = (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("nationkey", "mktsegment", "group_n")
        .agg(
            F.sum(
                F.abs(
                    F.col("cum_c") * F.col("big_n")
                    - F.col("cum_g") * F.col("group_n")
                )
            )
            .cast("bigint")
            .alias("emd_num"),
            F.max("big_n").alias("big_n"),
            F.max("m").alias("m"),
        )
    )
    return emd.select(
        "nationkey",
        "mktsegment",
        "group_n",
        "emd_num",
        (
            F.col("emd_num").cast("double")
            / (
                F.col("group_n").cast("double")
                * F.col("big_n").cast("double")
                * (F.col("m") - 1).cast("double")
            )
        ).alias("emd"),
        (
            F.col("emd_num") * _TCLOSE_INV_T
            <= F.col("group_n") * F.col("big_n") * (F.col("m") - 1)
        ).alias("t_close_ok"),
    ).orderBy("nationkey", "mktsegment")


# --- Dataset card: per-source corpus summary ---------------------------


@register(
    "pipeline_dataset_card",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, source, lang, n_chars,
                   string_split(text, ' ') AS w, md5(text) AS dig,
                   {_PHASH_SQL.format(x="'split:' || CAST(doc_id AS VARCHAR)")}
                       % 100 AS bucket
            FROM documents
        ),
        per AS (
            SELECT source, lang, dig, bucket,
                   CAST(len(w) AS BIGINT) AS n_tokens,
                   n_chars
            FROM t
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(SUM(n_chars) AS DOUBLE) / CAST(SUM(n_tokens) AS DOUBLE)
                   AS chars_per_token,
               CAST(COUNT(*) - COUNT(DISTINCT dig) AS BIGINT)
                   AS n_exact_dups,
               CAST(COUNT(*) - COUNT(DISTINCT dig) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS dup_rate,
               CAST(SUM(CASE WHEN bucket < 80 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_train,
               CAST(SUM(CASE WHEN bucket >= 80 AND bucket < 90
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
               CAST(SUM(CASE WHEN bucket >= 90 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_test
        FROM per
        GROUP BY source
        ORDER BY source
    """,
    doc="""Dataset card generation — the per-source summary table every
    curated corpus release ships (and every ingest run should emit as
    its audit artifact): document/language counts, token and character
    totals, mean token width, exact-duplicate count and rate (md5
    digest grain — the shuffle carries only digests, the dedup_exact
    discipline), and the train/val/test membership counts under the
    registered salted-hash split (sample_hash_split's exact
    convention, so the card's split column can never disagree with the
    split operator).

    Scale: ONE map-side-combining aggregate at source grain — token
    counts and digests are computed in the scan projection, nothing is
    re-read, and the output is |sources| rows.  This is the query you
    schedule after every load to diff the card against yesterday's.""",
)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    bucket = (
        _phash(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
    )
    per = d.select(
        "source",
        "lang",
        "n_chars",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        F.md5("text").alias("dig"),
        bucket.alias("bucket"),
    )
    n = F.count(F.lit(1))
    ndig = F.countDistinct("dig")
    return (
        per.groupBy("source")
        .agg(
            n.cast("bigint").alias("n_docs"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            (
                F.sum("n_chars").cast("double")
                / F.sum("n_tokens").cast("double")
            ).alias("chars_per_token"),
            (n - ndig).cast("bigint").alias("n_exact_dups"),
            ((n - ndig).cast("double") / n.cast("double")).alias("dup_rate"),
            F.sum(F.when(F.col("bucket") < 80, 1).otherwise(0))
            .cast("bigint")
            .alias("n_train"),
            F.sum(
                F.when((F.col("bucket") >= 80) & (F.col("bucket") < 90), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n_val"),
            F.sum(F.when(F.col("bucket") >= 90, 1).otherwise(0))
            .cast("bigint")
            .alias("n_test"),
        )
        .orderBy("source")
    )


# --- Importance reweighting to a target mix --------------------------------

_REWEIGHT_TARGETS = (
    ("en", "4", "10"),  # lang, numerator, denominator of the target share
    ("zh", "2", "10"),
    ("fr", "2", "10"),
    ("es", "1", "10"),
    ("de", "1", "10"),
)
_REWEIGHT_SQL_VALUES = ", ".join(
    f"('{lang}', {n}, {d})" for lang, n, d in _REWEIGHT_TARGETS
)


@register(
    "sample_importance_reweight",
    oracle=f"""
        WITH target(lang, tnum, tden) AS (VALUES {_REWEIGHT_SQL_VALUES}),
        cur AS (
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY 1
        ),
        tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n FROM cur)
        SELECT c.lang, c.n_docs,
               CAST(c.n_docs AS DOUBLE) / CAST(t.n AS DOUBLE)
                   AS current_share,
               CAST(g.tnum AS DOUBLE) / CAST(g.tden AS DOUBLE)
                   AS target_share,
               CAST(g.tnum * t.n AS DOUBLE)
                   / CAST(g.tden * c.n_docs AS DOUBLE) AS weight,
               g.tnum * t.n > g.tden * c.n_docs AS upweighted,
               CAST(CASE WHEN g.tnum * t.n > g.tden * c.n_docs
                         THEN (g.tnum * t.n) // (g.tden)
                         ELSE NULL END AS BIGINT) AS implied_docs_needed
        FROM cur c JOIN target g ON g.lang = c.lang CROSS JOIN tot t
        ORDER BY c.lang
    """,
    doc="""Importance reweighting to a declared target language mix —
    the standard correction when the crawl's language distribution
    differs from the training recipe's: per language, the current
    share, the target share (exact rationals, declared as integer
    numerator/denominator literals), the importance weight
    target/current each document of that language carries into the
    loss or the sampler, an up/down verdict, and for upweighted
    languages the document count the target implies (what you'd need
    to crawl to reach the mix at weight 1).

    Determinism: shares and weights are single divisions of exact
    BIGINT cross-products (tnum*N / tden*n_l); the verdict and the
    implied count never touch a float.

    Scale: one map-side-combining count per language plus a broadcast
    of the |langs|-row target dim — O(|langs|) state.  The weights
    feed sample_temperature / mix_weighted_sources as the per-row
    multiplier; reweighting is preferred over resampling when the
    corpus pass is cheaper than the storage churn.""",
)
def sample_importance_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    cur = d.groupBy("lang").agg(F.count("*").cast("bigint").alias("n_docs"))
    tot = cur.agg(F.sum("n_docs").cast("bigint").alias("n"))
    target = d.sparkSession.createDataFrame(
        [(lang, int(n), int(dn)) for lang, n, dn in _REWEIGHT_TARGETS],
        "lang string, tnum bigint, tden bigint",
    )
    return (
        cur.join(F.broadcast(target), "lang")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            (F.col("n_docs").cast("double") / F.col("n").cast("double")).alias(
                "current_share"
            ),
            (F.col("tnum").cast("double") / F.col("tden").cast("double")).alias(
                "target_share"
            ),
            (
                (F.col("tnum") * F.col("n")).cast("double")
                / (F.col("tden") * F.col("n_docs")).cast("double")
            ).alias("weight"),
            (F.col("tnum") * F.col("n") > F.col("tden") * F.col("n_docs")).alias(
                "upweighted"
            ),
            F.when(
                F.col("tnum") * F.col("n") > F.col("tden") * F.col("n_docs"),
                F.expr("(tnum * n) DIV tden"),
            )
            .cast("bigint")
            .alias("implied_docs_needed"),
        )
        .orderBy("lang")
    )


# --- Privacy release gate (k-anonymity x l-diversity x t-closeness) --------


@register(
    "privacy_release_gate",
    # {kan}/{ldiv}/{tclo} late-bound below to the three audits'
    # registered oracles — the gate is an AND over the shipped gates,
    # so it cannot drift from any of them.
    oracle="""
        WITH kan AS ({kan}), ldiv AS ({ldiv}), tclo AS ({tclo}),
        kroll AS (
            SELECT nationkey, mktsegment,
                   CAST(SUM(n_rows_suppressed) AS BIGINT)
                       AS n_rows_suppressed,
                   CAST(SUM(CASE WHEN suppress THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_small_cells,
                   NOT bool_or(suppress) AS k_ok
            FROM kan GROUP BY 1, 2
        )
        SELECT k.nationkey, k.mktsegment, l.group_n,
               k.k_ok, k.n_small_cells, k.n_rows_suppressed,
               l.l_diverse AS l_ok,
               NOT l.homogeneity_risk AS homogeneity_ok,
               t.t_close_ok AS t_ok,
               (k.k_ok AND l.l_diverse AND NOT l.homogeneity_risk
                AND t.t_close_ok) AS release
        FROM kroll k
        JOIN ldiv l ON l.nationkey = k.nationkey
                   AND l.mktsegment = k.mktsegment
        JOIN tclo t ON t.nationkey = k.nationkey
                   AND t.mktsegment = k.mktsegment
        ORDER BY k.nationkey, k.mktsegment
    """,
    doc="""Privacy release gate — the decision table that closes the
    privacy triad: a quasi-identifier class may be published only if
    it passes ALL three shipped audits — every k-anonymity cell at or
    above k (with the suppression debt rolled up per class),
    distinct-l diversity without a homogeneity-majority, and
    t-closeness of its sensitive distribution.  Each gate catches what
    the previous one provably cannot (small cells; large-but-uniform
    cells; skewed-but-diverse cells), which is why releases run the
    conjunction.  Measured: WHICH gate binds depends on scale — at
    sf0.01 sparse cells make k the binding gate for all 125 classes
    while t independently flags 5 skew-heavy ones; at sf0.1 k clears
    100 classes and t clears everything — so the AND is what stays
    correct as the data grows, not decoration.

    The oracle nests the REGISTERED oracles of k_anonymity_suppress,
    l_diversity_audit, and t_closeness_audit verbatim; the gate can
    never drift from the audits it composes.

    Scale: three O(|classes|) census tables joined on the class key —
    metadata-sized end to end; the heavy lifting already happened in
    the audits' map-side aggregates (shared managed-persist keys where
    they overlap).""",
)
def privacy_release_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_hadoop_loader_spark.registry import REGISTRY

    kan = REGISTRY["k_anonymity_suppress"].fn(spark, sf_dir)
    ldiv = REGISTRY["l_diversity_audit"].fn(spark, sf_dir)
    tclo = REGISTRY["t_closeness_audit"].fn(spark, sf_dir)
    kroll = kan.groupBy("nationkey", "mktsegment").agg(
        F.sum("n_rows_suppressed").cast("bigint").alias("n_rows_suppressed"),
        F.sum(F.when(F.col("suppress"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_small_cells"),
        (~F.max("suppress")).alias("k_ok"),
    )
    ld = ldiv.select(
        "nationkey",
        "mktsegment",
        "group_n",
        F.col("l_diverse").alias("l_ok"),
        (~F.col("homogeneity_risk")).alias("homogeneity_ok"),
    )
    tc = tclo.select("nationkey", "mktsegment", F.col("t_close_ok").alias("t_ok"))
    return (
        kroll.join(ld, ["nationkey", "mktsegment"])
        .join(tc, ["nationkey", "mktsegment"])
        .select(
            "nationkey",
            "mktsegment",
            "group_n",
            "k_ok",
            "n_small_cells",
            "n_rows_suppressed",
            "l_ok",
            "homogeneity_ok",
            "t_ok",
            (
                F.col("k_ok")
                & F.col("l_ok")
                & F.col("homogeneity_ok")
                & F.col("t_ok")
            ).alias("release"),
        )
        .orderBy("nationkey", "mktsegment")
    )


import dataclasses as _pdc  # noqa: E402

from kafka_hadoop_loader_spark.registry import REGISTRY as _PREG  # noqa: E402

_PREG["privacy_release_gate"] = _pdc.replace(
    _PREG["privacy_release_gate"],
    oracle=_PREG["privacy_release_gate"].oracle.format(
        kan=_PREG["k_anonymity_suppress"].oracle,
        ldiv=_PREG["l_diversity_audit"].oracle,
        tclo=_PREG["t_closeness_audit"].oracle,
    ),
)


# --- End-to-end corpus build: the full pipeline in ONE plan ---------------


@register(
    "pipeline_corpus_build",
    # {mh} late-bound below to dedup_minhash_lsh's registered oracle,
    # so the near-dup stage of this composite and the standalone pair
    # table cannot drift (same mechanism as dedup_source_contamination).
    oracle=f"""
        WITH d AS (
            SELECT doc_id, text, n_chars, source FROM documents
            WHERE doc_id % 97 <> 0
        ),
        tt AS (
            SELECT doc_id, source, text, n_chars,
                   string_split(text, ' ') AS w,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
            FROM d
        ),
        q AS (
            SELECT doc_id FROM tt
            WHERE n_tok >= {_QG_MIN_TOKENS}
              AND CAST(n_chars AS DOUBLE) / CAST(n_tok AS DOUBLE)
                      >= {_QG_MIN_AVG_LEN}
              AND CAST(n_chars AS DOUBLE) / CAST(n_tok AS DOUBLE)
                      <= {_QG_MAX_AVG_LEN}
              AND CAST(len(list_distinct(w)) AS DOUBLE)
                      / CAST(n_tok AS DOUBLE) >= {_QG_MIN_TTR}
              AND CAST(len(list_filter(w, x -> x IN {_QG_STOPWORDS!r}))
                       AS DOUBLE) / CAST(n_tok AS DOUBLE)
                      <= {_QG_MAX_STOP}
        ),
        canon AS (
            SELECT doc_id,
                   row_number() OVER (PARTITION BY md5(text)
                                      ORDER BY doc_id) AS rn
            FROM tt WHERE doc_id IN (SELECT doc_id FROM q)
        ),
        c2 AS (SELECT doc_id FROM canon WHERE rn = 1),
        pairs AS ({{mh}}),
        nd AS (
            SELECT DISTINCT doc_id_b AS doc_id FROM pairs
            WHERE doc_id_a IN (SELECT doc_id FROM c2)
              AND doc_id_b IN (SELECT doc_id FROM c2)
        ),
        c3 AS (
            SELECT doc_id FROM c2
            WHERE doc_id NOT IN (SELECT doc_id FROM nd)
        ),
        allg AS (
            SELECT DISTINCT doc_id,
                   ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS g3
            FROM (SELECT doc_id, string_split(text, ' ') AS ws
                  FROM documents) w,
                 unnest(generate_series(1, len(ws) - 2)) AS u(i)
            WHERE len(ws) >= 3
        ),
        bench AS (
            SELECT DISTINCT g3 FROM allg WHERE doc_id % 97 = 0
        ),
        contam AS (
            SELECT DISTINCT g.doc_id
            FROM allg g JOIN bench b USING (g3)
            WHERE g.doc_id % 97 <> 0
        ),
        c4 AS (
            SELECT doc_id FROM c3
            WHERE doc_id NOT IN (SELECT doc_id FROM contam)
        ),
        sp AS (
            SELECT doc_id,
                   CASE WHEN b < 80 THEN 'train'
                        WHEN b < 90 THEN 'val'
                        ELSE 'test' END AS split
            FROM (SELECT doc_id,
                         {_PHASH_SQL.format(
                             x="'split:' || CAST(doc_id AS VARCHAR)")}
                             % 100 AS b
                  FROM c4)
        ),
        spt AS (
            SELECT sp.doc_id, sp.split, tt.source, tt.n_tok
            FROM sp JOIN tt USING (doc_id)
        ),
        pk AS (
            SELECT split, source, CAST(SUM(n_tok) AS BIGINT) AS ttok
            FROM spt GROUP BY 1, 2
        ),
        pks AS (
            SELECT split,
                   CAST(SUM((ttok + {_PACK_BUDGET} - 1)
                            // {_PACK_BUDGET}) AS BIGINT) AS n_seqs,
                   CAST(SUM(ttok) AS BIGINT) AS ttok
            FROM pk GROUP BY 1
        ),
        tsum AS (SELECT doc_id, n_tok FROM tt)
        SELECT * FROM (
            SELECT CAST(0 AS BIGINT) AS stage_idx, 'corpus' AS stage,
                   (SELECT COUNT(*) FROM d) AS n_units,
                   (SELECT CAST(COALESCE(SUM(n_tok), 0) AS BIGINT)
                    FROM tsum) AS n_tokens
            UNION ALL
            SELECT 1, 'quality_pass', (SELECT COUNT(*) FROM q),
                   (SELECT CAST(COALESCE(SUM(n_tok), 0) AS BIGINT)
                    FROM tsum WHERE doc_id IN (SELECT doc_id FROM q))
            UNION ALL
            SELECT 2, 'exact_dedup', (SELECT COUNT(*) FROM c2),
                   (SELECT CAST(COALESCE(SUM(n_tok), 0) AS BIGINT)
                    FROM tsum WHERE doc_id IN (SELECT doc_id FROM c2))
            UNION ALL
            SELECT 3, 'near_dedup', (SELECT COUNT(*) FROM c3),
                   (SELECT CAST(COALESCE(SUM(n_tok), 0) AS BIGINT)
                    FROM tsum WHERE doc_id IN (SELECT doc_id FROM c3))
            UNION ALL
            SELECT 4, 'decontaminated', (SELECT COUNT(*) FROM c4),
                   (SELECT CAST(COALESCE(SUM(n_tok), 0) AS BIGINT)
                    FROM tsum WHERE doc_id IN (SELECT doc_id FROM c4))
            UNION ALL
            SELECT 5, 'split_train',
                   (SELECT COUNT(*) FROM sp WHERE split = 'train'),
                   (SELECT CAST(COALESCE(SUM(n_tok), 0) AS BIGINT)
                    FROM spt WHERE split = 'train')
            UNION ALL
            SELECT 6, 'split_val',
                   (SELECT COUNT(*) FROM sp WHERE split = 'val'),
                   (SELECT CAST(COALESCE(SUM(n_tok), 0) AS BIGINT)
                    FROM spt WHERE split = 'val')
            UNION ALL
            SELECT 7, 'split_test',
                   (SELECT COUNT(*) FROM sp WHERE split = 'test'),
                   (SELECT CAST(COALESCE(SUM(n_tok), 0) AS BIGINT)
                    FROM spt WHERE split = 'test')
            UNION ALL
            SELECT 8, 'packed_train',
                   (SELECT CAST(COALESCE(SUM(n_seqs), 0) AS BIGINT)
                    FROM pks WHERE split = 'train'),
                   (SELECT CAST(COALESCE(SUM(ttok), 0) AS BIGINT)
                    FROM pks WHERE split = 'train')
            UNION ALL
            SELECT 9, 'packed_val',
                   (SELECT CAST(COALESCE(SUM(n_seqs), 0) AS BIGINT)
                    FROM pks WHERE split = 'val'),
                   (SELECT CAST(COALESCE(SUM(ttok), 0) AS BIGINT)
                    FROM pks WHERE split = 'val')
            UNION ALL
            SELECT 10, 'packed_test',
                   (SELECT CAST(COALESCE(SUM(n_seqs), 0) AS BIGINT)
                    FROM pks WHERE split = 'test'),
                   (SELECT CAST(COALESCE(SUM(ttok), 0) AS BIGINT)
                    FROM pks WHERE split = 'test')
        )
        ORDER BY stage_idx
    """,
    doc=f"""The pipeline_funnel pattern at FULL depth: one plan chains
    quality gate -> exact dedup (keep-first) -> MinHash near-dup prune
    -> benchmark decontamination -> hash split -> sequence packing,
    reporting per-stage document AND token survival plus the packed
    {_PACK_BUDGET}-token sequence count per split — the complete
    pre-tokenization corpus build as ONE Catalyst plan with no
    materialization between stages.

    Stage semantics reuse the REGISTERED standalone operators exactly:
    quality_gate's thresholds, dedup_exact's keep-first-by-md5,
    dedup_minhash_lsh's verified pair table (the oracle nests its full
    SQL, so the near-dup stage cannot drift from the shipped cascade),
    decontaminate_ngram's 3-gram benchmark rule, sample_hash_split's
    portable md5 buckets, and pack_sequences' integer ceil-div layout
    at the (split, source) shard grain.  Near-dup pruning is
    edge-greedy: a doc is dropped when a verified pair links it to a
    SMALLER surviving doc_id — the standard keep-first pair rule;
    cluster-canonical pruning (star contraction) is the separately
    registered dedup_clusters_star.

    Scale shape: one documents scan computes every per-doc flag
    map-side; the exact-dedup window shuffles once on md5(text); the
    near-dup stage reuses _minhash_pairs' banded cascade (and its
    memoized shingle persist — never all-pairs); contamination is one
    broadcast semi-join on the tiny benchmark gram set; the final
    counts are conditional sums, so the 11 report rows cost two small
    aggregates.  This is the artifact a pretraining team reviews
    before spending GPU-hours: where the tokens went, stage by stage.""",
)
def pipeline_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_hadoop_loader_spark.operators.dedup import _minhash_pairs

    full = spread(table(spark, sf_dir, "documents"), "doc_id")
    d = full.where(F.col("doc_id") % 97 != 0)
    w = F.split("text", " ")
    n_tok = F.size(w).cast("bigint")
    avg_len = F.col("n_chars").cast("double") / n_tok.cast("double")
    ttr = F.size(F.array_distinct(w)).cast("double") / n_tok.cast("double")
    stop = (
        F.size(F.filter(w, lambda x: x.isin(*_QG_STOPWORDS))).cast("double")
        / n_tok.cast("double")
    )
    pass_q = (
        (n_tok >= _QG_MIN_TOKENS)
        & (avg_len >= _QG_MIN_AVG_LEN)
        & (avg_len <= _QG_MAX_AVG_LEN)
        & (ttr >= _QG_MIN_TTR)
        & (stop <= _QG_MAX_STOP)
    )
    flags = d.select(
        "doc_id",
        "source",
        n_tok.alias("n_tok"),
        pass_q.alias("pass_q"),
        F.md5("text").alias("h"),
    )
    # exact dedup: canonical = min doc_id among quality-passers per hash
    wnd = Window.partitionBy("h")
    flags = flags.withColumn(
        "canon",
        F.col("pass_q")
        & (
            F.col("doc_id")
            == F.min(F.when(F.col("pass_q"), F.col("doc_id"))).over(wnd)
        ),
    )
    # near-dup prune: drop the larger doc of any verified pair whose
    # BOTH ends survived exact dedup (edge-greedy keep-first).  The
    # pair table is the registered banded cascade; the survivors join
    # ships only pair rows, and AQE picks broadcast vs shuffle by the
    # pair count (near-dup mass is corpus-dependent — don't force it).
    surv = flags.where(F.col("canon")).select("doc_id")
    pairs = _minhash_pairs(full, sf_dir).select("doc_id_a", "doc_id_b")
    nd = (
        pairs.join(surv.select(F.col("doc_id").alias("doc_id_a")), "doc_id_a", "semi")
        .join(surv.select(F.col("doc_id").alias("doc_id_b")), "doc_id_b", "semi")
        .select(F.col("doc_id_b").alias("doc_id"))
        .distinct()
        .withColumn("near_drop", F.lit(True))
    )
    flags = flags.join(nd, "doc_id", "left").withColumn(
        "keep_nd", F.col("canon") & F.col("near_drop").isNull()
    )
    # decontamination vs the benchmark slice (doc_id % 97 == 0)
    # slice+arrays_zip shape: split() evaluates once per row; the
    # previous sequence+element_at transform re-evaluated the split
    # subtree inside every lambda call (the _shingle_hashes 7x trap).
    # HASHED grams (xxhash64 per 3-gram, the _shingle_hashes shape):
    # contamination is a pure gram-EQUALITY test, so the hashed overlap
    # verdict is identical to the string overlap absent a 64-bit
    # collision (p ~ 3e-8 at ~1e6 shingles — the same documented
    # tolerance the MinHash cascade's verify relies on), and only longs
    # cross the semi-join's exchanges instead of 3-word strings
    # (r13 wave 11, guide §2.3 shuffle fewer bytes: contam branch
    # 2.37s -> 2.06s min-of-3, doc set proven identical at all SFs).
    # <3-word docs yield an empty array and are dropped by the explode.
    from kafka_hadoop_loader_spark.operators.dedup import _shingle_hashes

    grams = full.select(
        "doc_id", F.explode(_shingle_hashes(F.col("text"))).alias("g3")
    )
    bench = grams.where(F.col("doc_id") % 97 == 0).select("g3").distinct()
    contam = (
        grams.where(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(bench), "g3", "semi")
        .select("doc_id")
        .distinct()
        .withColumn("contam", F.lit(True))
    )
    # The bench gram set above is BOUNDED (the benchmark slice), so the
    # broadcast hint there is safe at any corpus size.  `contam` is NOT:
    # it is the set of contaminated corpus doc_ids and grows with the
    # corpus (even 1% of 100 TB of doc_ids blows the broadcast ceiling),
    # so — exactly like the near-dup join above — the strategy is left
    # to AQE, which picks broadcast vs shuffle from the measured size.
    flags = flags.join(contam, "doc_id", "left").withColumn(
        "clean", F.col("keep_nd") & F.col("contam").isNull()
    )
    bucket = _phash(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
    flags = flags.withColumn(
        "split",
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"),
    # the finished per-doc flag table feeds TWO aggregates (the stage
    # funnel and the packing shards): one LAZY cut executes the whole
    # quality/dedup/decontam cascade once instead of twice (r13 plan
    # audit: zero exchange reuse across the two consumers).
    ).localCheckpoint(eager=False)

    one = lambda c: F.sum(c.cast("bigint"))  # noqa: E731
    tok = lambda c: F.coalesce(  # noqa: E731
        F.sum(F.when(c, F.col("n_tok"))), F.lit(0)
    ).cast("bigint")
    counts = flags.agg(
        F.count("*").alias("c0"),
        tok(F.lit(True)).alias("t0"),
        one(F.col("pass_q")).alias("c1"),
        tok(F.col("pass_q")).alias("t1"),
        one(F.col("canon")).alias("c2"),
        tok(F.col("canon")).alias("t2"),
        one(F.col("keep_nd")).alias("c3"),
        tok(F.col("keep_nd")).alias("t3"),
        one(F.col("clean")).alias("c4"),
        tok(F.col("clean")).alias("t4"),
        one(F.col("clean") & (F.col("split") == "train")).alias("c5"),
        tok(F.col("clean") & (F.col("split") == "train")).alias("t5"),
        one(F.col("clean") & (F.col("split") == "val")).alias("c6"),
        tok(F.col("clean") & (F.col("split") == "val")).alias("t6"),
        one(F.col("clean") & (F.col("split") == "test")).alias("c7"),
        tok(F.col("clean") & (F.col("split") == "test")).alias("t7"),
    )
    # packing at the (split, source) shard grain: ceil-div per shard,
    # then one conditional-sum row so every split always reports
    pk = (
        flags.where(F.col("clean"))
        .groupBy("split", "source")
        .agg(F.sum("n_tok").alias("ttok"))
        .select(
            "split",
            "ttok",
            F.expr(f"(ttok + {_PACK_BUDGET} - 1) DIV {_PACK_BUDGET}").alias(
                "n_seqs"
            ),
        )
    )
    z = lambda c: F.coalesce(F.sum(c).cast("bigint"), F.lit(0).cast("bigint"))  # noqa: E731
    pks = pk.agg(
        z(F.when(F.col("split") == "train", F.col("n_seqs"))).alias("c8"),
        z(F.when(F.col("split") == "train", F.col("ttok"))).alias("t8"),
        z(F.when(F.col("split") == "val", F.col("n_seqs"))).alias("c9"),
        z(F.when(F.col("split") == "val", F.col("ttok"))).alias("t9"),
        z(F.when(F.col("split") == "test", F.col("n_seqs"))).alias("c10"),
        z(F.when(F.col("split") == "test", F.col("ttok"))).alias("t10"),
    )
    stages = (
        "corpus",
        "quality_pass",
        "exact_dedup",
        "near_dedup",
        "decontaminated",
        "split_train",
        "split_val",
        "split_test",
    )
    stack_docs = ", ".join(
        f"CAST({i} AS BIGINT), '{s}', c{i}, t{i}" for i, s in enumerate(stages)
    )
    doc_rows = counts.selectExpr(
        f"stack(8, {stack_docs}) AS (stage_idx, stage, n_units, n_tokens)"
    )
    stack_pack = ", ".join(
        f"CAST({i} AS BIGINT), '{s}', c{i}, t{i}"
        for i, s in ((8, "packed_train"), (9, "packed_val"), (10, "packed_test"))
    )
    pack_rows = pks.selectExpr(
        f"stack(3, {stack_pack}) AS (stage_idx, stage, n_units, n_tokens)"
    )
    return doc_rows.unionByName(pack_rows).orderBy("stage_idx")


from kafka_hadoop_loader_spark.operators import dedup as _pipeline_dedup  # noqa: E402,F401

_PREG["pipeline_corpus_build"] = _pdc.replace(
    _PREG["pipeline_corpus_build"],
    oracle=_PREG["pipeline_corpus_build"].oracle.format(
        mh=_PREG["dedup_minhash_lsh"].oracle
    ),
)
