"""Corpus-cleaning queries over ``documents`` (training-data pipeline
surface): PII detect/redact and paragraph-level exact dedup.

The synthetic corpus carries no natural PII, so ``pii_scrub`` first
constructs a deterministic augmented column — identical string algebra
on both engines — for a doc_id-gated subset, then runs the actual
operator (regex detect + global redact) over it. The construction is
part of the query contract; the detector/redactor is what's verified.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osmart_etl_spark.io.sources import default_parallelism, read_table
from osmart_etl_spark.ops.cleaning import (
    EMAIL_RE,
    PHONE_RE,
    POS_BASE,
    count_matches,
    dedup_units_corpus_wide,
    redact,
    reassemble,
    unit_explode,
)
from osmart_etl_spark.queries.base import query

_UNIT = 16  # tokens per dedup unit

_AUG_SQL = """
      text
      || CASE WHEN doc_id % 3 = 0
              THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com now'
              ELSE '' END
      || CASE WHEN doc_id % 5 = 0
              THEN ' call 555-0' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                   || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today'
              ELSE '' END
"""


def _aug_text() -> F.Column:
    """Deterministic PII injection (Spark twin of ``_AUG_SQL``)."""
    did = F.col("doc_id")
    email = F.concat(
        F.lit(" contact u"), did.cast("string"), F.lit("@example.com now")
    )
    phone = F.concat(
        F.lit(" call 555-0"),
        F.lpad((did % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((did % 10000).cast("string"), 4, "0"),
        F.lit(" today"),
    )
    return F.concat(
        F.col("text"),
        F.when(did % 3 == 0, email).otherwise(F.lit("")),
        F.when(did % 5 == 0, phone).otherwise(F.lit("")),
    )


@query(
    "pii_scrub",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id, {_AUG_SQL} AS a FROM documents
    )
    SELECT doc_id,
      CAST(len(regexp_extract_all(a, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
      CAST(len(regexp_extract_all(a, '{PHONE_RE}')) AS BIGINT) AS n_phones,
      (len(regexp_extract_all(a, '{EMAIL_RE}')) > 0
       OR len(regexp_extract_all(a, '{PHONE_RE}')) > 0) AS has_pii,
      md5(regexp_replace(regexp_replace(a, '{EMAIL_RE}', '<EMAIL>', 'g'),
                         '{PHONE_RE}', '<PHONE>', 'g')) AS redacted_fp
    FROM aug
    """,
    tags=("ext-cleaning", "pii"),
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + global redaction — one projection over one scan,
    zero shuffle, all regex work JVM-side in codegen. At 100 TB this is
    the cheapest shape possible: cost is exactly the text-column scan.

    Engine-portability: patterns restricted to class/bounded-repetition
    constructs Java regex and RE2 agree on; Spark's regexp_replace is
    global by default while DuckDB needs the explicit 'g' flag (the
    oracle passes it)."""
    d = read_table(spark, sf_dir, "documents")
    a = _aug_text()
    redacted = redact(redact(a, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>")
    return d.select(
        "doc_id",
        count_matches(a, EMAIL_RE).alias("n_emails"),
        count_matches(a, PHONE_RE).alias("n_phones"),
        (
            (count_matches(a, EMAIL_RE) > 0) | (count_matches(a, PHONE_RE) > 0)
        ).alias("has_pii"),
        F.md5(redacted).alias("redacted_fp"),
    )


@query(
    "paragraph_dedup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS t
      FROM documents
    ),
    base AS (
      SELECT doc_id, t, CAST((len(t) - 1) // {_UNIT} AS INT) AS max_i
      FROM toks WHERE len(t) > 0
    ),
    units AS (
      SELECT doc_id, i AS u_idx,
             array_to_string(t[i*{_UNIT}+1 : i*{_UNIT}+{_UNIT}], ' ') AS u_text
      FROM base
      CROSS JOIN LATERAL (SELECT UNNEST(generate_series(0, max_i)) AS i) g
    ),
    keyed AS (
      SELECT doc_id, u_idx, u_text, md5(u_text) AS h,
             doc_id * {POS_BASE} + u_idx AS pos
      FROM units
    ),
    firsts AS (SELECT h, min(pos) AS first_pos FROM keyed GROUP BY h),
    kept AS (
      SELECT k.doc_id, k.u_idx, k.u_text
      FROM keyed k JOIN firsts f ON k.h = f.h AND k.pos = f.first_pos
    ),
    kept_agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_units,
             md5(string_agg(u_text, ' ' ORDER BY u_idx)) AS dedup_fp
      FROM kept GROUP BY doc_id
    ),
    totals AS (SELECT doc_id, CAST(max_i + 1 AS BIGINT) AS n_units FROM base)
    SELECT t.doc_id, t.n_units,
           COALESCE(k.kept_units, 0) AS kept_units,
           t.n_units - COALESCE(k.kept_units, 0) AS dropped_units,
           k.dedup_fp AS dedup_fp
    FROM totals t LEFT JOIN kept_agg k USING (doc_id)
    """,
    tags=("ext-cleaning", "dedup"),
)
def paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-granularity exact corpus dedup (C4/RefinedWeb rule):
    any {_UNIT}-token unit occurring more than once corpus-wide
    survives only at its first (doc_id, u_idx) occurrence; docs are
    reassembled from surviving units in order.

    Scale shape: unit explode is a shuffle-free flatMap; the
    first-occurrence resolution is a map-side-combinable MIN aggregate
    on the unit digest (|distinct units| rows cross the wire, not
    |occurrences|) followed by a digest-key join that AQE skew-splits
    if one boilerplate unit dominates; per-doc totals come off the
    token array directly (no second pass over exploded units)."""
    d = read_table(spark, sf_dir, "documents")
    n_parts = default_parallelism(spark)
    docs = d.repartition(n_parts).select("doc_id", "text")
    units = unit_explode(docs, _UNIT)
    kept_agg = reassemble(dedup_units_corpus_wide(units))
    from osmart_etl_spark.ops.text import tokens

    totals = docs.select(
        "doc_id", tokens(F.col("text")).alias("t")
    ).filter(F.size("t") > 0).select(
        "doc_id",
        (F.floor((F.size("t") - 1) / _UNIT) + 1).cast("bigint").alias("n_units"),
    )
    return (
        totals.join(kept_agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_units",
            F.coalesce(F.col("kept_units"), F.lit(0)).cast("bigint").alias(
                "kept_units"
            ),
            (F.col("n_units") - F.coalesce(F.col("kept_units"), F.lit(0)))
            .cast("bigint")
            .alias("dropped_units"),
            "dedup_fp",
        )
    )


_CHUNK = 50  # tokens per training chunk


@query(
    "corpus_training_pipeline",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, source, text,
             list_filter(string_split(text, ' '), x -> x != '') AS t
      FROM documents
    ),
    q AS (
      SELECT * FROM toks
      WHERE len(t) >= 20 AND len(t) <= 1000
        AND len(list_distinct(t)) / len(t) >= 0.3
    ),
    h AS (SELECT *, md5(text) AS fp FROM q),
    firsts AS (SELECT fp, min(doc_id) AS keep_id FROM h GROUP BY fp),
    kept AS (
      SELECT h.doc_id, h.lang, h.source, h.text
      FROM h JOIN firsts f ON h.fp = f.fp AND h.doc_id = f.keep_id
    ),
    red AS (
      SELECT doc_id, lang, source,
        regexp_replace(regexp_replace(
          text
          || CASE WHEN doc_id % 3 = 0
                  THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com now'
                  ELSE '' END
          || CASE WHEN doc_id % 5 = 0
                  THEN ' call 555-0' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                       || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today'
                  ELSE '' END,
          '{EMAIL_RE}', '<EMAIL>', 'g'), '{PHONE_RE}', '<PHONE>', 'g') AS rtext
      FROM kept
    ),
    rtoks AS (
      SELECT doc_id, lang, source,
             list_filter(string_split(rtext, ' '), x -> x != '') AS rt
      FROM red
    ),
    chunks AS (
      SELECT doc_id, lang, source, i AS chunk_idx,
             rt[i*{_CHUNK}+1 : i*{_CHUNK}+{_CHUNK}] AS ct
      FROM rtoks
      CROSS JOIN LATERAL (
        SELECT UNNEST(generate_series(0, CAST((len(rt) - 1) // {_CHUNK} AS INT))) AS i
      ) g
      WHERE len(rt) > 0
    )
    SELECT doc_id, lang, source, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(len(ct) AS BIGINT) AS n_chunk_tokens,
           md5(array_to_string(ct, ' ')) AS chunk_fp
    FROM chunks
    """,
    tags=("ext-cleaning", "pipeline"),
)
def corpus_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed preprocessing DELIVERABLE: quality filter → exact
    corpus dedup (first doc per content hash) → PII redaction → fixed-
    window chunking, emitted as training-ready chunk records — the
    end-to-end path a pretraining-data user actually runs, as ONE
    Catalyst DAG.

    Scale shape: everything except the dedup resolution is a fused
    per-row stage over one scan (quality predicates, regex redaction,
    token chunking all pipeline inside the same codegen stage); the
    dedup is the paragraph_dedup pattern at doc granularity — a
    map-side-combinable MIN per content digest plus one digest-keyed
    join — so the whole pipeline costs one scan + one small shuffle
    pair, not a pass per stage. Filters run BEFORE dedup so undeduped
    low-quality text never reaches the hash shuffle."""
    from osmart_etl_spark.ops.text import tokens

    d = read_table(spark, sf_dir, "documents")
    n_parts = default_parallelism(spark)
    t = tokens(F.col("text"))
    q = (
        d.repartition(n_parts)
        .withColumn("__nt", F.size(t))
        .filter(
            (F.col("__nt") >= 20)
            & (F.col("__nt") <= 1000)
            & (
                F.size(F.array_distinct(t)).cast("double")
                / F.col("__nt").cast("double")
                >= 0.3
            )
        )
        .withColumn("__fp", F.md5("text"))
    )
    firsts = q.groupBy("__fp").agg(F.min("doc_id").alias("__keep_id"))
    kept = (
        q.join(firsts, "__fp")
        .filter(F.col("doc_id") == F.col("__keep_id"))
        .select("doc_id", "lang", "source", "text")
    )
    red = kept.select(
        "doc_id",
        "lang",
        "source",
        redact(
            redact(_aug_text(), EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
        ).alias("rtext"),
    )
    rt = tokens(F.col("rtext"))
    base = red.select("doc_id", "lang", "source", rt.alias("rt")).filter(
        F.size("rt") > 0
    )
    idx = F.sequence(F.lit(0), F.floor((F.size("rt") - 1) / _CHUNK).cast("int"))
    chunked = base.select(
        "doc_id", "lang", "source", "rt", F.explode(idx).alias("chunk_idx")
    )
    sl = F.slice(F.col("rt"), F.col("chunk_idx") * _CHUNK + 1, _CHUNK)
    return chunked.select(
        "doc_id",
        "lang",
        "source",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.size(sl).cast("bigint").alias("n_chunk_tokens"),
        F.md5(F.array_join(sl, " ")).alias("chunk_fp"),
    )


_SUBS_T = 0.001  # word2vec subsampling threshold
_HASH28 = 268_435_456  # 2^28 — 7-hex-char md5 gate space


@query(
    "token_freq_subsample",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS t
      FROM documents
    ),
    occ AS (
      SELECT doc_id, i - 1 AS pos, t[i] AS token
      FROM toks
      CROSS JOIN LATERAL (SELECT UNNEST(generate_series(1, len(t))) AS i) g
      WHERE len(t) > 0
    ),
    freq AS (SELECT token, count(*) AS cnt FROM occ GROUP BY token),
    tot AS (SELECT count(*) AS n FROM occ),
    hot AS (
      SELECT token,
             CAST(floor(least(1.0, sqrt({_SUBS_T} * n / cnt)) * {_HASH28})
                  AS BIGINT) AS thr
      FROM freq CROSS JOIN tot
      WHERE cnt > {_SUBS_T} * n
    ),
    kept AS (
      SELECT o.doc_id, o.pos, o.token
      FROM occ o LEFT JOIN hot h ON o.token = h.token
      WHERE h.thr IS NULL
         OR ('0x' || substr(md5(o.token || ':' || CAST(o.doc_id AS VARCHAR)
                                 || ':' || CAST(o.pos AS VARCHAR)), 1, 7))::BIGINT
            < h.thr
    ),
    tot_doc AS (
      SELECT doc_id, CAST(len(t) AS BIGINT) AS n_before
      FROM toks WHERE len(t) > 0
    ),
    kept_agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_after,
             md5(string_agg(token, ' ' ORDER BY pos)) AS kept_fp
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id, d.n_before,
           COALESCE(k.n_after, 0) AS n_after,
           k.kept_fp AS kept_fp
    FROM tot_doc d LEFT JOIN kept_agg k USING (doc_id)
    """,
    tags=("ext-cleaning", "subsample"),
)
def token_freq_subsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec-style frequency subsampling: each OCCURRENCE of token t
    survives with p = min(1, sqrt(threshold / f(t))) — frequent filler
    tokens thin out, rare content tokens always survive. The coin flip
    is a content-addressed md5 gate over (token, doc_id, position), so
    the subsample is identical on every run, engine, and partitioning.

    The scale insight: only tokens with f > threshold have p < 1, and
    there can be at most 1/threshold = {int(1/_SUBS_T)} of them AT ANY
    CORPUS SIZE (frequencies sum to 1) — so the per-token threshold
    table is provably broadcastable forever; every other token
    left-joins to nothing and short-circuits to keep. Shuffles: the
    frequency count (map-side combined to |vocab| per partition), the
    1-row total, and the per-doc reassembly — the occurrence stream
    itself never shuffles by token, so token skew cannot matter."""
    from osmart_etl_spark.ops.text import tokens

    d = read_table(spark, sf_dir, "documents")
    n_parts = default_parallelism(spark)
    base = (
        d.repartition(n_parts)
        .select("doc_id", tokens(F.col("text")).alias("t"))
        .filter(F.size("t") > 0)
    )
    occ = base.select(
        "doc_id", F.posexplode("t").alias("pos", "token")
    )
    freq = occ.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    tot = occ.agg(F.count(F.lit(1)).alias("n"))
    hot = (
        freq.crossJoin(F.broadcast(tot))
        .filter(F.col("cnt") > F.lit(_SUBS_T) * F.col("n"))
        .select(
            "token",
            F.floor(
                F.least(
                    F.lit(1.0),
                    F.sqrt(F.lit(_SUBS_T) * F.col("n") / F.col("cnt")),
                )
                * _HASH28
            )
            .cast("bigint")
            .alias("thr"),
        )
    )
    gate = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("token"),
                    F.lit(":"),
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("pos").cast("string"),
                )
            ),
            1,
            7,
        ),
        16,
        10,
    ).cast("bigint")
    kept = occ.join(F.broadcast(hot), "token", "left").filter(
        F.col("thr").isNull() | (gate < F.col("thr"))
    )
    ordered = F.array_sort(F.collect_list(F.struct("pos", "token")))
    kept_agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_after"),
        F.md5(F.array_join(F.transform(ordered, lambda s: s["token"]), " ")).alias(
            "kept_fp"
        ),
    )
    totals = base.select("doc_id", F.size("t").cast("bigint").alias("n_before"))
    return totals.join(kept_agg, "doc_id", "left").select(
        "doc_id",
        "n_before",
        F.coalesce(F.col("n_after"), F.lit(0)).cast("bigint").alias("n_after"),
        "kept_fp",
    )


_URL_RE = r"https?://([a-z0-9.-]+)/[a-z0-9/._-]*"
_BLOCKLIST = ("spam0.example", "spam2.example", "spam4.example")
_BLOCK_SQL = ", ".join(f"'{d}'" for d in _BLOCKLIST)


@query(
    "url_domain_filter",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id, lang, source,
        text || CASE WHEN doc_id % 4 = 0
                     THEN ' see https://spam' || CAST(doc_id % 7 AS VARCHAR)
                          || '.example/page' || CAST(doc_id AS VARCHAR) || ' ok'
                     ELSE '' END AS a
      FROM documents
    )
    SELECT doc_id, lang, source,
      regexp_extract(a, '{_URL_RE}', 1) AS domain,
      (regexp_extract(a, '{_URL_RE}', 1) IN ({_BLOCK_SQL})) AS is_blocked
    FROM aug
    """,
    tags=("ext-cleaning", "url-filter"),
)
def url_domain_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain extraction + blocklist verdict — the URL-level filter
    every web-corpus pipeline runs before content-level scoring. Like
    ``pii_scrub``, the synthetic corpus carries no URLs, so a
    deterministic doc_id-gated URL is injected by identical string
    algebra on both engines; the OPERATOR under test is the regex
    netloc extraction + broadcastable blocklist membership.

    Zero shuffle: regexp_extract group capture and the IN-list are
    per-row codegen. At 100 TB the blocklist is a broadcast join
    against a domains table instead of an IN literal — same shape, the
    list just stops being a compile-time constant. regexp_extract
    returns '' on no match in BOTH engines (Spark and DuckDB agree),
    so the no-URL rows compare exactly."""
    d = read_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(
            did % 4 == 0,
            F.concat(
                F.lit(" see https://spam"),
                (did % 7).cast("string"),
                F.lit(".example/page"),
                did.cast("string"),
                F.lit(" ok"),
            ),
        ).otherwise(F.lit("")),
    )
    domain = F.regexp_extract(aug, _URL_RE, 1)
    return d.select(
        "doc_id",
        "lang",
        "source",
        domain.alias("domain"),
        domain.isin(*_BLOCKLIST).alias("is_blocked"),
    )


_C4_AUG_SQL = """
      substr(text, 1, 80) || '.'
      || CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'ok go.' ELSE '' END
      || CASE WHEN doc_id % 3 = 0
              THEN chr(10) || 'this page uses javascript heavily.' ELSE '' END
      || CASE WHEN doc_id % 7 = 0
              THEN chr(10) || 'lorem ipsum dolor sit amet.' ELSE '' END
      || CASE WHEN doc_id % 11 = 0
              THEN chr(10) || 'config { debug: true }' ELSE '' END
      || chr(10) || substr(text, 81, 60) || ' and so the run ends here!'
      || chr(10) || 'Read more about spark joins here?'
"""

_C4_LINE_KEEP_SQL = (
    "regexp_matches(l, '[.!?\"]$') AND len(string_split(l, ' ')) >= 3"
    " AND NOT contains(lower(l), 'javascript')"
)


def _c4_aug() -> F.Column:
    """Deterministic multi-line construction (Spark twin of
    ``_C4_AUG_SQL``): the synthetic corpus is single-line prose, so the
    C4 rules would be vacuous on it raw — inject, per doc_id residue,
    lines that each rule must catch."""
    did = F.col("doc_id")
    nl = F.lit("\n")
    return F.concat(
        F.substring(F.col("text"), 1, 80), F.lit("."),
        F.when(did % 2 == 0, F.concat(nl, F.lit("ok go."))).otherwise(F.lit("")),
        F.when(did % 3 == 0, F.concat(nl, F.lit("this page uses javascript heavily."))).otherwise(F.lit("")),
        F.when(did % 7 == 0, F.concat(nl, F.lit("lorem ipsum dolor sit amet."))).otherwise(F.lit("")),
        F.when(did % 11 == 0, F.concat(nl, F.lit("config { debug: true }"))).otherwise(F.lit("")),
        nl, F.substring(F.col("text"), 81, 60), F.lit(" and so the run ends here!"),
        nl, F.lit("Read more about spark joins here?"),
    )


@query(
    "c4_line_filter",
    oracle=f"""
    WITH aug AS (SELECT doc_id, {_C4_AUG_SQL} AS a FROM documents),
    lines AS (
      SELECT doc_id, a,
        string_split(a, chr(10)) AS ls,
        list_filter(string_split(a, chr(10)), l -> {_C4_LINE_KEEP_SQL}) AS kept
      FROM aug
    )
    SELECT doc_id,
      CAST(len(kept) AS BIGINT) AS n_kept,
      CAST(len(ls) - len(kept) AS BIGINT) AS n_dropped,
      (NOT contains(lower(a), 'lorem ipsum') AND NOT contains(a, '{{')
       AND len(kept) >= 3) AS doc_kept,
      array_to_string(kept, chr(10)) AS cleaned
    FROM lines
    """,
    tags=("ext-clean", "c4"),
)
def c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line+document cleaning (Raffel et al. 2020 §2.2, the
    public rule set): keep lines ending in terminal punctuation with ≥3
    words and no 'javascript'; drop whole documents containing 'lorem
    ipsum' or '{{' or with fewer than 3 surviving lines. (C4 uses ≥5
    words and a curly-brace rule for code; the word bound is a
    parameter here — the rule STRUCTURE is what's verified.)

    Scale shape: one projection over one scan — the line split, lambda
    filter, and rejoin all run inside codegen on the executors; zero
    shuffle, zero UDF, same cost class as pii_scrub. Composes into
    corpus_training_pipeline's single-pass stage if wired upstream.
    """
    d = read_table(spark, sf_dir, "documents")
    aug = _c4_aug()
    lines = F.split(aug, "\n")
    keep = lambda line: (  # noqa: E731
        line.rlike('[.!?"]$')
        & (F.size(F.split(line, " ")) >= 3)
        & ~F.lower(line).contains("javascript")
    )
    kept = F.filter(lines, keep)
    return d.select(
        "doc_id",
        F.size(kept).cast("bigint").alias("n_kept"),
        (F.size(lines) - F.size(kept)).cast("bigint").alias("n_dropped"),
        (
            ~F.lower(aug).contains("lorem ipsum")
            & ~aug.contains("{")
            & (F.size(kept) >= 3)
        ).alias("doc_kept"),
        F.array_join(kept, "\n").alias("cleaned"),
    )


@query(
    "temperature_mixing_rates",
    oracle="""
    WITH g AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             sqrt(CAST(COUNT(*) AS DOUBLE)) AS w
      FROM documents GROUP BY lang, source
    ),
    tot AS (
      SELECT list_reduce(
               list_prepend(0.0, list_transform(
                 list_sort(list({'lang': lang, 'source': source, 'w': w})), r -> r.w)),
               (a, b) -> a + b) AS tw,
             CAST(SUM(n_docs) AS BIGINT) AS total_docs
      FROM g
    )
    SELECT g.lang, g.source, g.n_docs,
      g.w / tot.tw AS mix_rate,
      g.w / tot.tw * tot.total_docs AS expected_docs
    FROM g, tot
    """,
    tags=("ext-mixing", "temperature"),
)
def temperature_mixing_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture weights over (lang, source) strata —
    the T5/multilingual recipe r_s ∝ n_s^(1/T) that up-weights
    low-resource strata, at T = 2 (i.e. sqrt): the ONE temperature whose
    transform is IEEE-exact on every engine (sqrt is correctly rounded;
    pow(x, 0.3) is libm-dependent in the last ulp and would break the
    value-hash contract).

    Determinism discipline: the normalizing Σ√n runs as a FOLD over the
    strata ordered by (lang, source) — a plain SUM over doubles is
    reduction-order-dependent and flaps between engines/partitionings.
    Strata are few (the 1-row aggregate broadcasts back), so the ordered
    fold costs nothing at any scale; the expensive part stays the one
    map-side-combined groupBy over the corpus.
    """
    d = read_table(spark, sf_dir, "documents")
    g = d.groupBy("lang", "source").agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    g = g.withColumn("w", F.sqrt(F.col("n_docs").cast("double")))
    tot = g.agg(
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("lang", "source", "w"))
                ),
                lambda r: r["w"],
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        ).alias("tw"),
        F.sum("n_docs").cast("bigint").alias("total_docs"),
    )
    return g.crossJoin(F.broadcast(tot)).select(
        "lang",
        "source",
        "n_docs",
        (F.col("w") / F.col("tw")).alias("mix_rate"),
        (F.col("w") / F.col("tw") * F.col("total_docs")).alias("expected_docs"),
    )


# -- encoding-noise detection -------------------------------------------------
# The synthetic corpus is clean, so (pii_scrub / url_domain_filter
# precedent) deterministic mojibake is injected by IDENTICAL string
# algebra on both engines; the OPERATOR under test is the per-row noise
# metric stack. Substring occurrence counts use the regex-free
# (len(s) - len(replace(s, sub, ''))) / len(sub) identity so both
# engines count by the exact same character arithmetic.

_MOJI_CAFE = "cafÃ© dÃ©jÃ "  # classic UTF-8-read-as-Latin-1 sequence
_MOJI_APOS = "â€™"  # U+2019 right single quote, double-mangled


@query(
    "text_encoding_noise",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id, source,
        text
        || CASE WHEN doc_id % 3 = 0
                THEN ' ' || repeat('�', CAST(1 + doc_id % 4 AS INT))
                ELSE '' END
        || CASE WHEN doc_id % 7 = 2 THEN ' {_MOJI_CAFE}' ELSE '' END
        || CASE WHEN doc_id % 11 = 5 THEN ' it{_MOJI_APOS}s' ELSE '' END AS a
      FROM documents
    ),
    m AS (
      SELECT doc_id, source, length(a) AS n_chars,
        length(a) - length(replace(a, '�', '')) AS n_repl,
        CAST((length(a) - length(replace(a, 'Ã©', ''))) / 2
          + (length(a) - length(replace(a, '{_MOJI_APOS}', ''))) / 3 AS BIGINT) AS n_moji
      FROM aug
    )
    SELECT doc_id, source, n_repl, n_moji,
      CAST(3 * n_repl + n_moji AS DOUBLE) * 1000 / n_chars AS noise_per_kchar,
      (n_repl > 0 OR n_moji >= 2) AS is_noisy
    FROM m
    """,
    tags=("ext-cleaning", "encoding-noise"),
)
def text_encoding_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake / encoding-noise detector (the ftfy-class pre-filter
    every web-corpus pipeline runs): counts U+FFFD replacement
    characters and two canonical UTF-8-as-Latin-1 mangle sequences,
    scores noise per 1k chars, and flags noisy docs. Zero shuffle —
    pure per-row codegen (length/replace arithmetic, no regex, no
    UDF); at 100 TB this is scan-bound, the cheapest possible shape.
    Counting identity: occurrences(s, sub) = (len(s) -
    len(replace(s, sub, ''))) / len(sub), exact in both engines."""
    d = read_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    a = F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(F.lit(" "), F.repeat(F.lit("�"), (F.lit(1) + did % 4).cast("int"))),
        ).otherwise(F.lit("")),
        F.when(did % 7 == 2, F.lit(" " + _MOJI_CAFE)).otherwise(F.lit("")),
        F.when(did % 11 == 5, F.lit(" it" + _MOJI_APOS + "s")).otherwise(F.lit("")),
    )

    def occurrences(s, sub: str):
        return (F.length(s) - F.length(F.replace(s, F.lit(sub)))) / len(sub)

    n_repl = occurrences(a, "�").cast("bigint")
    n_moji = (occurrences(a, "Ã©") + occurrences(a, _MOJI_APOS)).cast("bigint")
    return d.select(
        "doc_id",
        "source",
        n_repl.alias("n_repl"),
        n_moji.alias("n_moji"),
        (
            (F.lit(3) * n_repl + n_moji).cast("double") * 1000 / F.length(a)
        ).alias("noise_per_kchar"),
        ((n_repl > 0) | (n_moji >= 2)).alias("is_noisy"),
    )


# -- URL-canonicalization dedup ----------------------------------------------

# Spark (Java) and DuckDB (RE2) agree on this subset: char classes,
# anchors, +/*. The injected URL varies scheme, host case, www prefix,
# trailing slash, and tracking query string — all of which the
# canonicalizer must collapse.
_URL_GRAB_RE = r"https?://([^ ]+)"


@query(
    "url_canonical_dedup",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id, source,
        text || CASE WHEN doc_id % 3 = 0 THEN
          ' http' || CASE WHEN doc_id % 2 = 0 THEN 's' ELSE '' END || '://'
          || CASE WHEN doc_id % 6 < 3 THEN 'WWW.' ELSE '' END
          || 'Site' || CAST(doc_id % 7 AS VARCHAR)
          || '.example/Path' || CAST(doc_id % 13 AS VARCHAR)
          || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
          || CASE WHEN doc_id % 4 = 1
                  THEN '?utm_source=feed&ref=' || CAST(doc_id % 3 AS VARCHAR)
                  ELSE '' END
          ELSE '' END AS a
      FROM documents
    ),
    canon AS (
      SELECT doc_id, source,
        regexp_replace(regexp_replace(regexp_replace(
          lower(regexp_extract(a, '{_URL_GRAB_RE}', 1)),
          '\\?.*$', ''), '^www\\.', ''), '/+$', '') AS canonical_url
      FROM aug
    )
    SELECT canonical_url,
      COUNT(*) AS n_docs,
      MIN(doc_id) AS keeper_doc_id,
      COUNT(DISTINCT source) AS n_sources
    FROM canon WHERE canonical_url != ''
    GROUP BY canonical_url
    """,
    tags=("ext-cleaning", "url-dedup"),
)
def url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the Common-Crawl-style first dedup
    pass: documents crawled from URL variants of the same page
    (http/https, host case, www., trailing slash, tracking params)
    collapse to one canonical key; the keeper is the lowest doc_id.
    The corpus carries no URLs, so variants are injected by identical
    deterministic string algebra on both engines (url_domain_filter
    precedent); the OPERATOR is the canonicalizer + keyed keep-min.

    Canonical form (aggressive, documented): lower(host+path), scheme
    and query string dropped, leading 'www.' and trailing '/' stripped.
    Scale: per-row regex codegen then ONE map-side-combinable groupBy
    on the canonical key — the same one-shuffle shape as dedup_exact;
    hot URLs are a bounded-key skew that AQE splits."""
    d = read_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    a = F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit(" http"),
                F.when(did % 2 == 0, F.lit("s")).otherwise(F.lit("")),
                F.lit("://"),
                F.when(did % 6 < 3, F.lit("WWW.")).otherwise(F.lit("")),
                F.lit("Site"),
                (did % 7).cast("string"),
                F.lit(".example/Path"),
                (did % 13).cast("string"),
                F.when(did % 5 == 0, F.lit("/")).otherwise(F.lit("")),
                F.when(
                    did % 4 == 1,
                    F.concat(F.lit("?utm_source=feed&ref="), (did % 3).cast("string")),
                ).otherwise(F.lit("")),
            ),
        ).otherwise(F.lit("")),
    )
    canon = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.lower(F.regexp_extract(a, _URL_GRAB_RE, 1)), r"\?.*$", ""
            ),
            r"^www\.",
            "",
        ),
        r"/+$",
        "",
    )
    return (
        d.select("doc_id", "source", canon.alias("canonical_url"))
        .filter(F.col("canonical_url") != "")
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
            F.countDistinct("source").alias("n_sources"),
        )
    )


# --------------------------------------------------------------------------
# HTML text extraction (the crawl step between ingest and lang-ID)
# --------------------------------------------------------------------------

#: Entity pairs, unescaped in this order (amp LAST so '&amp;lt;' does
#: not double-decode — the standard single-pass convention).
_HTML_ENTITIES = (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                  ("&#39;", "'"), ("&amp;", "&"))


@query(
    "html_extract_text",
    oracle="""
    WITH page AS (
      SELECT doc_id,
        '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
        '</title><style>body { color: red; }</style></head><body><h1>Doc ' ||
        CAST(doc_id AS VARCHAR) || '</h1>\n<p>' ||
        replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;') ||
        '</p><script>track(1 < 2);</script></body></html>' AS html
      FROM documents
    ),
    stripped AS (
      SELECT doc_id,
        regexp_replace(
          regexp_replace(
            regexp_replace(regexp_replace(html, '(?is)<script.*?</script>', ' ', 'g'), '(?is)<style.*?</style>', ' ', 'g'),
            '<[^>]+>', ' ', 'g'),
          '\\s+', ' ', 'g') AS t
      FROM page
    ),
    unescaped AS (
      SELECT doc_id,
        trim(replace(replace(replace(replace(replace(t,
          '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
          '&amp;', '&')) AS extracted
      FROM stripped
    )
    SELECT u.doc_id, u.extracted,
           u.extracted = 'Doc ' || CAST(u.doc_id AS VARCHAR) || ' Doc ' ||
             CAST(u.doc_id AS VARCHAR) || ' ' ||
             trim(regexp_replace(d.text, '\\s+', ' ', 'g')) AS roundtrip_ok
    FROM unescaped u JOIN documents d ON d.doc_id = u.doc_id
    """,
    tags=("ext-cleaning", "html-extraction"),
)
def html_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → text extraction — the crawl-pipeline step between raw
    ingest and language-ID: drop <script>/<style> subtrees (their
    content is code, not text), strip tags, unescape the five core
    entities (amp last, the single-pass convention), collapse
    whitespace. All regex/replace chains are JVM-side codegen — at
    100 TB this is a zero-shuffle projection over the scan, exactly
    like pii_scrub.

    Verification is a ROUNDTRIP CONTRACT: the query first builds a
    deterministic page around each document (title/h1/style/script
    chrome + the entity-escaped body), then extracts, and emits
    ``roundtrip_ok`` — extraction must recover precisely the h1 text
    plus the whitespace-normalized body, bit-for-bit on both engines.
    A regex-dialect divergence (Java vs RE2 lazy quantifiers, dotall
    flags) or an entity-order bug turns the boolean false and fails
    the value hash — the extractor's correctness is data, not a code
    review. (Real crawl HTML is adversarial in ways no regex handles —
    unbalanced tags, CDATA, JS-built DOM; this operator is the
    linear-scan90% path, and the quarantine doctrine catches the rest.)
    """
    d = read_table(spark, sf_dir, "documents")
    esc = F.col("text")
    for a, b in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;")):
        esc = F.replace(esc, F.lit(a), F.lit(b))
    html = F.concat(
        F.lit("<html><head><title>Doc "), F.col("doc_id").cast("string"),
        F.lit("</title><style>body { color: red; }</style></head><body><h1>Doc "),
        F.col("doc_id").cast("string"), F.lit("</h1>\n<p>"), esc,
        F.lit("</p><script>track(1 < 2);</script></body></html>"),
    )
    # two passes, no backreference: DuckDB's RE2 has none (and would
    # match '\\1' literally, silently leaving scripts in the text)
    t = F.regexp_replace(html, r"(?is)<script.*?</script>", " ")
    t = F.regexp_replace(t, r"(?is)<style.*?</style>", " ")
    t = F.regexp_replace(t, r"<[^>]+>", " ")
    t = F.regexp_replace(t, r"\s+", " ")
    for a, b in _HTML_ENTITIES:
        t = F.replace(t, F.lit(a), F.lit(b))
    extracted = F.trim(t)
    expected = F.concat(
        F.lit("Doc "), F.col("doc_id").cast("string"),
        F.lit(" Doc "), F.col("doc_id").cast("string"), F.lit(" "),
        F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")),
    )
    return d.select(
        "doc_id",
        extracted.alias("extracted"),
        (extracted == expected).alias("roundtrip_ok"),
    )


# --------------------------------------------------------------------------
# WARC record parsing (ISO 28500 — the crawl archive envelope)
# --------------------------------------------------------------------------


@query(
    "warc_parse_records",
    oracle="""
    WITH blob AS (
      SELECT doc_id,
        'WARC/1.0' || chr(13) || chr(10) ||
        'WARC-Type: response' || chr(13) || chr(10) ||
        'WARC-Record-ID: <urn:uuid:doc-' || CAST(doc_id AS VARCHAR) || '>' || chr(13) || chr(10) ||
        'WARC-Target-URI: https://example.org/' || source || '/' || CAST(doc_id AS VARCHAR) || chr(13) || chr(10) ||
        'Content-Length: ' || CAST(strlen(text) AS VARCHAR) || chr(13) || chr(10) ||
        chr(13) || chr(10) || text || chr(13) || chr(10) || chr(13) || chr(10) ||
        'WARC/1.0' || chr(13) || chr(10) ||
        'WARC-Type: metadata' || chr(13) || chr(10) ||
        'WARC-Record-ID: <urn:uuid:meta-' || CAST(doc_id AS VARCHAR) || '>' || chr(13) || chr(10) ||
        'WARC-Target-URI: https://example.org/' || source || '/' || CAST(doc_id AS VARCHAR) || chr(13) || chr(10) ||
        'Content-Length: ' || CAST(strlen('lang: ' || lang || ', ok') AS VARCHAR) || chr(13) || chr(10) ||
        chr(13) || chr(10) || 'lang: ' || lang || ', ok' || chr(13) || chr(10) || chr(13) || chr(10)
        AS warc
      FROM documents
    ),
    recs AS (
      SELECT doc_id, UNNEST(string_split(warc, 'WARC/1.0' || chr(13) || chr(10))) AS rec
      FROM blob
    ),
    parsed AS (
      SELECT doc_id,
        regexp_extract(rec, 'WARC-Type: ([a-z]+)', 1) AS rec_type,
        regexp_extract(rec, 'WARC-Record-ID: <([^>]+)>', 1) AS record_id,
        regexp_extract(rec, 'WARC-Target-URI: ([^\\r]+)', 1) AS target_uri,
        CAST(regexp_extract(rec, 'Content-Length: ([0-9]+)', 1) AS BIGINT) AS content_length,
        regexp_extract(rec, '(?s)\\r\\n\\r\\n(.*?)\\r\\n\\r\\n$', 1) AS payload
      FROM recs WHERE rec != ''
    )
    SELECT doc_id, rec_type, record_id, target_uri, content_length,
           strlen(payload) = content_length AS length_ok
    FROM parsed
    """,
    tags=("ext-ingest", "warc"),
)
def warc_parse_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC (ISO 28500) record parsing — the crawl-archive envelope a
    web-scale pipeline reads before any text work: split a multi-record
    WARC blob on the version marker, extract the header fields
    (WARC-Type / Record-ID / Target-URI / Content-Length), slice the
    payload, and VERIFY the envelope (``length_ok``: declared
    Content-Length equals the actual payload byte length — the check a
    real reader uses to resync after truncation).

    Same verification-as-data shape as html_extract_text: the query
    first builds a deterministic two-record blob (response + metadata)
    per document, then parses it back; any drift in the record
    splitting, the header regexes, or the payload slicing flips
    ``length_ok`` or changes a parsed column and fails the value hash.
    All string ops are zero-shuffle codegen; a production reader runs
    the identical expressions over WARC shards read with Spark's
    ``binaryFile`` format (one row per file, payload in ``content``)
    with the record split per file instead of per row. ASCII corpus ⇒
    strlen == octet_length on both engines (the documented
    levenshtein-family contract).
    """
    d = read_table(spark, sf_dir, "documents")
    crlf = "\r\n"
    uri = F.concat(
        F.lit("https://example.org/"), F.col("source"), F.lit("/"),
        F.col("doc_id").cast("string"),
    )
    rec1 = F.concat(
        F.lit("WARC/1.0" + crlf + "WARC-Type: response" + crlf),
        F.lit("WARC-Record-ID: <urn:uuid:doc-"), F.col("doc_id").cast("string"),
        F.lit(">" + crlf + "WARC-Target-URI: "), uri, F.lit(crlf),
        F.lit("Content-Length: "), F.octet_length("text").cast("string"),
        F.lit(crlf + crlf), F.col("text"), F.lit(crlf + crlf),
    )
    rec2 = F.concat(
        F.lit("WARC/1.0" + crlf + "WARC-Type: metadata" + crlf),
        F.lit("WARC-Record-ID: <urn:uuid:meta-"), F.col("doc_id").cast("string"),
        F.lit(">" + crlf + "WARC-Target-URI: "), uri, F.lit(crlf),
        F.lit("Content-Length: "),
        F.octet_length(F.concat(F.lit("lang: "), F.col("lang"), F.lit(", ok")))
        .cast("string"),
        F.lit(crlf + crlf),
        F.lit("lang: "), F.col("lang"), F.lit(", ok"), F.lit(crlf + crlf),
    )
    blob = F.concat(rec1, rec2)
    recs = d.select(
        "doc_id", F.explode(F.split(blob, "WARC/1\\.0\r\n")).alias("rec")
    ).filter(F.col("rec") != "")
    payload = F.regexp_extract(F.col("rec"), r"(?s)\r\n\r\n(.*?)\r\n\r\n$", 1)
    return recs.select(
        "doc_id",
        F.regexp_extract("rec", r"WARC-Type: ([a-z]+)", 1).alias("rec_type"),
        F.regexp_extract("rec", r"WARC-Record-ID: <([^>]+)>", 1).alias("record_id"),
        F.regexp_extract("rec", r"WARC-Target-URI: ([^\r]+)", 1).alias("target_uri"),
        # try_cast: a record with NO Content-Length header extracts ''
        # and an ANSI cast would THROW — the §2.8 try-family doctrine
        # (found by the malformed-envelope fuzz test)
        F.regexp_extract("rec", r"Content-Length: ([0-9]+)", 1)
        .try_cast("bigint")
        .alias("content_length"),
        (
            F.octet_length(payload)
            == F.regexp_extract("rec", r"Content-Length: ([0-9]+)", 1)
            .try_cast("bigint")
        ).alias("length_ok"),
    )
