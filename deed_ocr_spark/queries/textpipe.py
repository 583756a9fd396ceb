"""Training-data text-pipeline operators over the `documents` table.

First-class large-scale pipeline ops (task brief): exact dedup, MinHash
signatures + LSH band candidates, SimHash, n-gram Jaccard near-dup pairs,
language-ID heuristic, quality scoring, token counting, fingerprinting.

Every hash used for oracle-checked queries is md5 (identical hex output in
Spark and DuckDB); engine-native hashes (xxhash64 vs duckdb hash) would
diverge. At scale the Spark plans are shuffle-minimal: per-doc signatures
are map-side only; candidate-pair generation joins on band buckets
(bounded fanout) instead of any cross join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from deed_ocr_spark.queries.common import t

TOKEN_RE = r"\s+"
STOPWORDS = ("the", "a", "of", "and", "to")


def _tokens(col):
    return F.split(F.trim(col), TOKEN_RE)


def _docs_rebalanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents scan rebalanced for explode-heavy downstream compute.

    A small input (few splits) would otherwise funnel the entire
    shingle/md5 explode into one task (measured: 17s single-task vs ~1s
    spread). At 100 TB the scan has thousands of splits and this exchange
    is skipped — see ``common.rebalanced`` (one shared heuristic since
    round 7; this wrapper just fixes the table and key)."""
    from deed_ocr_spark.queries.common import rebalanced

    return rebalanced(t(spark, sf_dir, "documents"), "doc_id")


# NOTE: no registered query leans on session-cache persistence anymore.
# Reused subtrees are materialized as content-keyed parquet tables
# (signatures.ensure_signature_table; multimodal.ensure_media_table for
# m1's media table), because a MEMORY_AND_DISK persist made their cost
# swing ~4x with session cache warmth and co-tenant memory pressure
# (round-3 bench artifact). Single-query-tree reuse (e7's candidate
# frames) persists within the query's own scope only.


# --- D1: exact dedup (hash groupBy; at 100 TB this is the one full shuffle,
# on a 32-hex key — minimal width) ----------------------------------------
def d1_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return (
        d.select(F.md5("text").alias("text_md5"), "doc_id")
        .groupBy("text_md5")
        .agg(F.min("doc_id").alias("keeper"), F.count(F.lit(1)).alias("n_copies"))
    )


# --- D2: token counting ----------------------------------------------------
def d2_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(_tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
        F.col("n_chars"),
    )


# --- D2b: BPE-ish token counting (GPT-2-style pre-tokenizer pattern) ---------
# Counts the pre-tokenization segments a byte-pair encoder would see:
# contractions, letter runs, digit runs, punctuation runs, whitespace runs.
# \p{L}/\p{N} behave identically in Java regex and RE2 (verified 0
# mismatches over the corpus).
BPE_PAT = r"'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def d11_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_count("text", F.lit(BPE_PAT)).cast("bigint").alias("n_bpe_tokens"),
        F.size(_tokens(F.col("text"))).cast("bigint").alias("n_ws_tokens"),
    )


# --- D3: language-ID heuristic (stopword-hit ratio) ------------------------
def d3_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    hits = None
    for w in STOPWORDS:
        h = F.regexp_count(F.lower(F.col("text")), F.lit(rf"\b{w}\b")).cast("double")
        hits = h if hits is None else hits + h
    n_tokens = F.size(_tokens(F.col("text"))).cast("double")
    score = hits / F.greatest(n_tokens, F.lit(1.0))
    return d.select(
        "doc_id",
        score.alias("en_score"),
        (score > 0.03).cast("int").alias("guess_en"),
    )


# --- D4: quality scoring (length/punct/upper ratios) ------------------------
def d4_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    n = F.length("text").cast("double")
    punct = F.regexp_count(F.col("text"), F.lit(r"[.!?,;:]")).cast("double")
    upper = F.regexp_count(F.col("text"), F.lit(r"[A-Z]")).cast("double")
    n_tokens = F.size(_tokens(F.col("text"))).cast("double")
    safe_n = F.greatest(n, F.lit(1.0))
    return d.select(
        "doc_id",
        (punct / safe_n).alias("punct_ratio"),
        (upper / safe_n).alias("upper_ratio"),
        (n / F.greatest(n_tokens, F.lit(1.0))).alias("mean_token_len"),
    )


# --- D5: document fingerprint (normalized md5) ------------------------------
def d5_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), F.lit(r"\s+"), F.lit(" ")))
    return d.select("doc_id", F.md5(norm).alias("fingerprint"))


# --- D6: SimHash (16-bit, md5-nibble based — engine-portable) ---------------
# Classic SimHash: each token votes ±1 on each bit of its hash; the
# signature bit is the vote sign. Bit k of a token = high bit of hex nibble
# k of md5(token), so Spark and DuckDB agree exactly.
def d6_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash(spark, sf_dir, F.md5, _SIMHASH_VOTES)


def _simhash(spark: SparkSession, sf_dir: str, hash_fn, votes: list) -> DataFrame:
    """(doc_id, simhash) over the documents' tokens hashed by ``hash_fn``
    into column ``h``, from the 16 vote aggregates as SQL text. One
    ``F.expr`` per column: a column tree built from the functions API
    costs ~200 driver round trips per query build, parsed text a
    handful."""
    d = _docs_rebalanced(spark, sf_dir)
    tok = (
        d.select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
        .withColumn("h", hash_fn("tok"))
    )
    agg = tok.groupBy("doc_id").agg(*map(F.expr, votes))
    return agg.select(
        "doc_id", F.expr(f"CAST({_SIMHASH_SUM_SQL} AS BIGINT) AS simhash")
    )


# --- D6b: production SimHash twin (rows-only) --------------------------------
# Same algorithm as d6, different hash family: xxhash64(token) with bit k
# extracted by integer shift-and-mask instead of md5-hex substring
# membership tests. Everything stays in 64-bit int ops inside whole-stage
# codegen (no string buffers), so the aggregate is a HashAggregate over 16
# long sums — the form you run at 100 TB. d6 (md5) remains the
# DuckDB-portable oracle anchor; tests assert the two schemes agree on
# duplicate detection and Hamming-distance ordering.
_SIMHASH_FAST_VOTES = [
    f"sum(((h >> {k}) & 1) * 2 - 1) AS v{k}" for k in range(16)
]


def d6b_simhash_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash(spark, sf_dir, F.xxhash64, _SIMHASH_FAST_VOTES)


# --- D8: MinHash signatures over 3-token shingles ---------------------------
# Shingling (not single tokens) is load-bearing at scale: with a small
# vocabulary, token-set Jaccard between random docs is high and LSH
# banding degenerates into a quadratic candidate blowup (measured: 7.7M
# pairs from 5k docs before shingling). 3-shingles cube the effective
# vocabulary so random docs share ~nothing.
def _shingles_of(toks):
    """3-shingle array from an already-materialized token-array column.

    ``toks`` must be a column *reference* (not the split expression itself):
    each array access inside the lambda re-evaluates its child, so inlining
    ``split(text)`` here costs O(tokens²) regex splits per document
    (measured: 40s → 3s at sf0.1 after materializing the split once).
    """
    return F.when(
        F.size(toks) >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - 3),
                lambda i: F.concat_ws(" ", toks[i], toks[i + 1], toks[i + 2]),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingle_rows_of(docs: DataFrame) -> DataFrame:
    """(doc_id, sh) shingle rows from any (doc_id, text) frame — per-doc
    work only, so it applies equally to the full corpus and to an
    incremental slice of newly-landed files (signatures.py)."""
    toks_df = docs.select("doc_id", _tokens(F.col("text")).alias("toks"))
    return toks_df.select(
        "doc_id", F.explode(_shingles_of(F.col("toks"))).alias("sh")
    )


def _minhash_sig_from(sh: DataFrame) -> DataFrame:
    mins = [
        F.min(F.md5(F.concat(F.lit(f"seed{i}:"), F.col("sh")))).alias(f"mh{i}")
        for i in range(4)
    ]
    return sh.groupBy("doc_id").agg(*mins)


# --- D9: MinHash LSH band candidates (2 bands × 2 rows) ----------------------
# Docs sharing a band collide; pairs from band-bucket self-joins, never a
# cross join. At scale: groupBy(band) with a per-bucket cap would bound
# fanout; here buckets are tiny.
def _band_rows(sig: DataFrame) -> DataFrame:
    """(doc_id, band) rows from a signature frame; band id is salted into
    the hash so band1/band2 buckets never collide with each other. Strictly
    per-document work — the property that lets the bands signature family
    append incrementally (signatures.py)."""
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                F.md5(F.concat_ws("|", F.lit("b1"), "mh0", "mh1")),
                F.md5(F.concat_ws("|", F.lit("b2"), "mh2", "mh3")),
            )
        ).alias("band"),
    )


# Ordered-pair expansion over a SORTED doc-id array column ``ds``: all
# (ds[i], ds[j]) with i < j, so doc_a < doc_b holds by construction. This
# replaces the key self-join form (A ⋈ A on the bucket key): grouping the
# already-capped bucket into one row and expanding pairs LOCALLY removes
# the join — and with it the second scan, the second distinct/aggregate of
# the same table, and the self-join's sorts — from the plan (guide §2.4:
# two operations keyed the same way share one pass). Per-row fanout is the
# same |bucket|²/2 the self-join had; the df/bucket caps that bounded the
# join's hot keys bound the array sizes identically.
_PAIR_EXPAND = (
    "flatten(transform(ds, (x, i) -> transform("
    "slice(ds, i + 2, size(ds) - i - 1), "
    "y -> struct(x AS doc_a, y AS doc_b))))"
)


def _grouped_doc_sets(rows: DataFrame, key: str) -> DataFrame:
    """(key, sorted distinct doc_id array) per key — collect_set fuses the
    (doc_id, key) distinct into the per-key grouping (one aggregate where
    the join form needed a distinct AND a df count AND a cap join), and
    from a key-bucketed catalog table the aggregation is exchange-free."""
    return rows.groupBy(key).agg(
        F.sort_array(F.collect_set("doc_id")).alias("ds")
    )


def _band_pairs_of(bands: DataFrame) -> DataFrame:
    """Candidate pairs from a (doc_id, band) frame: per-band doc sets
    expanded locally (never a cross join, no self-join — see _PAIR_EXPAND).
    From a band-bucketed catalog table the grouping is exchange-free and
    the only shuffle left is the final pair distinct (see d9b).

    Unlike the winnow path, the band family has NO df cap (the oracle
    emits every band collision), so a hot band holds an unbounded doc
    set and the one-shot _PAIR_EXPAND would materialize |bucket|²/2
    structs in a SINGLE array — a hard task failure (2³¹ array-element
    limit / OOM) where the old streamed self-join merely ran long. The
    expansion is therefore TWO-STEP: posexplode the doc set first (one
    row per doc, carrying the set), then pair each doc with its strict
    successors — per-row output is ≤ |bucket| structs, the quadratic
    total is spread across spillable rows, and the emitted pairs are
    identical (doc_a < doc_b from the same sorted array)."""
    grouped = _grouped_doc_sets(bands.select("doc_id", "band"), "band")
    return (
        grouped.filter(F.size("ds") >= 2)
        .select(F.posexplode("ds").alias("i", "doc_a"), "ds")
        .select(
            "doc_a",
            F.explode(
                F.expr("slice(ds, i + 2, size(ds) - i - 1)")
            ).alias("doc_b"),
        )
        .distinct()
    )


def _band_cand_docs(bands: DataFrame) -> DataFrame:
    """Distinct doc ids appearing in ANY candidate pair — i.e. docs that
    share a band bucket with at least one other doc. Equal by definition
    to union(doc_a, doc_b) over _band_pairs_of, but derived WITHOUT the
    pair expansion and its distinct: deriving it from the pair frame would
    re-evaluate the whole band subtree twice more (Spark does not dedup
    common subtrees across plan branches)."""
    return (
        _grouped_doc_sets(bands.select("doc_id", "band"), "band")
        .filter(F.size("ds") >= 2)
        .select(F.explode("ds").alias("doc_id"))
        .distinct()
    )


# --- D7: n-gram (shingle) Jaccard near-dup pairs over LSH candidates ---------
# Relational Jaccard: |A∩B| via shingle equi-join, |A∪B| = |A|+|B|-|A∩B|.
# Candidates come from d9 (LSH) so no cross join exists anywhere in the plan.
# Both inputs are materialized signature tables (signatures.py): the
# shingle rows and the bands they derive to are computed once per corpus
# and scanned from disk — deterministic cost, no session-cache residency.
def ngram_jaccard_pairs_from(
    toks_src: DataFrame,
    cand: DataFrame,
    cand_docs: DataFrame,
    threshold: float = 0.5,
) -> DataFrame:
    """Jaccard near-dup pairs from a (doc_id, sh) shingle table, the LSH
    candidate pairs ``cand`` and their distinct doc ids ``cand_docs``.

    d7 passes the band-bucketed BANDS mirror's pairs (d9's registered
    subtree) and derives ``cand_docs`` from the same mirror
    (_band_cand_docs — one band-subtree pass; deriving it from ``cand``
    would re-evaluate the candidate subtree for each union side). The
    bands family derives from the same shingle rows, so the candidate set
    is the oracle's.

    Intersection shape (round-7 optimization): the old form joined the
    full shingle relation twice per pair — cand ⋈ toks(doc_a) ⋈
    toks(doc_b, tok) — whose second join re-shuffled every shingle row on
    (doc_b, tok), plus TWO more full-table aggregations for the sizes.
    Candidate pairs are a small fraction of the corpus when LSH is doing
    its job, so instead: semi-reduce the shingle table to candidate docs
    (broadcast of the candidate-doc set — the d15 contamination-scan
    shape), collect each candidate doc's shingle set ONCE, and compute
    |A∩B| with a local array_intersect per pair. Shingle rows are distinct
    per doc (array_distinct upstream), so size(set)=sz and the rounded
    jaccard is arithmetic-identical. One pass over the table instead of
    four; measured 1.8 s → 0.9 s at sf1.0, identical pairs.

    Regime contract: the candidate-DOC id set must fit the broadcast
    budget (ids only — far smaller than d15's broadcast shingle SET). In
    a corpus so duplicate-dense that candidates approach the corpus
    itself, drop the broadcast hint and let the semi-join shuffle — at
    that density the old full-relation join shape is the economics
    anyway; a size-aware route switch is recorded as future work in
    OPTIMIZATION_r07.md."""
    sets = (
        toks_src.select("doc_id", "sh")
        .join(F.broadcast(cand_docs), "doc_id", "semi")
        .groupBy("doc_id")
        .agg(F.collect_list("sh").alias("shs"))
    )
    out = (
        cand.join(
            sets.select(F.col("doc_id").alias("doc_a"), F.col("shs").alias("sh_a")),
            "doc_a",
        )
        .join(
            sets.select(F.col("doc_id").alias("doc_b"), F.col("shs").alias("sh_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("inter"),
            F.size("sh_a").alias("sz_a"),
            F.size("sh_b").alias("sz_b"),
        )
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("doc_a", "doc_b", "jaccard")


_STOPWORD_HITS_SQL = " + ".join(
    rf"CAST(length(regexp_extract_all(lower(text), '\b{w}\b')) AS DOUBLE)"
    for w in STOPWORDS
)

# d6's votes and sum: the DuckDB oracle's text, and d6_simhash's columns
_SIMHASH_VOTES = [
    "CAST(SUM(CASE WHEN substr(h, {p}, 1) IN ('8','9','a','b','c','d','e','f') "
    "THEN 1 ELSE -1 END) AS BIGINT) AS v{k}".format(p=k + 1, k=k)
    for k in range(16)
]
_SIMHASH_VOTES_SQL = ", ".join(_SIMHASH_VOTES)
_SIMHASH_SUM_SQL = " + ".join(
    f"(CASE WHEN v{k} > 0 THEN {1 << k} ELSE 0 END)" for k in range(16)
)

_SHINGLES_SQL = r"""
    SELECT DISTINCT doc_id,
           unnest(list_transform(range(greatest(len(toks) - 2, 0)),
                  i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS sh
    FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
          FROM documents)
"""

_MINHASH_SIG_SQL = f"""
    SELECT doc_id,
           min(md5('seed0:' || sh)) AS mh0,
           min(md5('seed1:' || sh)) AS mh1,
           min(md5('seed2:' || sh)) AS mh2,
           min(md5('seed3:' || sh)) AS mh3
    FROM ({_SHINGLES_SQL})
    GROUP BY doc_id
"""

_BAND_PAIRS_SQL = f"""
    WITH sig AS ({_MINHASH_SIG_SQL}),
    bands AS (
      SELECT doc_id, md5('b1' || '|' || mh0 || '|' || mh1) AS band FROM sig
      UNION ALL
      SELECT doc_id, md5('b2' || '|' || mh2 || '|' || mh3) AS band FROM sig
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
"""

_BPE_SQL = BPE_PAT.replace("'", "''")

ORACLES = {
    "d14_training_keeplist": rf"""
        WITH lang AS (
          SELECT doc_id,
                 ({_STOPWORD_HITS_SQL})
                   / greatest(CAST(length(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE),
                              CAST(1.0 AS DOUBLE)) AS en_score
          FROM documents),
        qual AS (
          SELECT doc_id,
                 CAST(length(text) AS DOUBLE)
                   / greatest(CAST(length(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE),
                              CAST(1.0 AS DOUBLE)) AS mean_token_len
          FROM documents),
        keepers AS (
          SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        dup_b AS (
          SELECT DISTINCT doc_b AS doc_id FROM ({_BAND_PAIRS_SQL}))
        SELECT d.doc_id, d.n_chars
        FROM documents d
        JOIN lang USING (doc_id)
        JOIN qual USING (doc_id)
        WHERE lang.en_score > 0.03
          AND qual.mean_token_len <= 5.8
          AND d.doc_id IN (SELECT doc_id FROM keepers)
          AND d.doc_id NOT IN (SELECT doc_id FROM dup_b)
    """,
    "d11_bpe_token_count": rf"""
        SELECT doc_id,
               CAST(length(regexp_extract_all(text, '{_BPE_SQL}')) AS BIGINT) AS n_bpe_tokens,
               CAST(length(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_ws_tokens
        FROM documents
    """,
    "d1_dedup_exact": """
        SELECT md5(text) AS text_md5, min(doc_id) AS keeper, count(*) AS n_copies
        FROM documents GROUP BY 1
    """,
    "d2_token_count": r"""
        SELECT doc_id,
               CAST(length(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
               n_chars
        FROM documents
    """,
    "d3_lang_id": rf"""
        WITH s AS (
          SELECT doc_id,
                 ({_STOPWORD_HITS_SQL}) AS hits,
                 CAST(length(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS n_tokens
          FROM documents)
        SELECT doc_id,
               hits / greatest(n_tokens, CAST(1.0 AS DOUBLE)) AS en_score,
               CAST(hits / greatest(n_tokens, CAST(1.0 AS DOUBLE)) > 0.03 AS INT) AS guess_en
        FROM s
    """,
    "d4_quality_score": r"""
        WITH s AS (
          SELECT doc_id,
                 CAST(length(text) AS DOUBLE) AS n,
                 CAST(length(regexp_extract_all(text, '[.!?,;:]')) AS DOUBLE) AS punct,
                 CAST(length(regexp_extract_all(text, '[A-Z]')) AS DOUBLE) AS upper,
                 CAST(length(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS n_tokens
          FROM documents)
        SELECT doc_id,
               punct / greatest(n, CAST(1.0 AS DOUBLE)) AS punct_ratio,
               upper / greatest(n, CAST(1.0 AS DOUBLE)) AS upper_ratio,
               n / greatest(n_tokens, CAST(1.0 AS DOUBLE)) AS mean_token_len
        FROM s
    """,
    "d5_fingerprint": r"""
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
        FROM documents
    """,
    "d6_simhash": rf"""
        WITH tok AS (
          SELECT doc_id, md5(tok) AS h
          FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
                FROM documents)
          WHERE tok <> ''),
        votes AS (
          SELECT doc_id, {_SIMHASH_VOTES_SQL}
          FROM tok GROUP BY doc_id)
        SELECT doc_id, CAST({_SIMHASH_SUM_SQL} AS BIGINT) AS simhash FROM votes
    """,
    "d8_minhash_sig": _MINHASH_SIG_SQL,
    "d9_minhash_band_pairs": _BAND_PAIRS_SQL,
    "d7_ngram_jaccard_pairs": rf"""
        WITH toks2 AS (SELECT doc_id, sh AS tok FROM ({_SHINGLES_SQL})),
        sizes AS (SELECT doc_id, count(*) AS sz FROM toks2 GROUP BY doc_id),
        cand AS ({_BAND_PAIRS_SQL}),
        shared AS (
          SELECT c.doc_a, c.doc_b, count(*) AS inter
          FROM cand c
          JOIN toks2 ta ON ta.doc_id = c.doc_a
          JOIN toks2 tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
          GROUP BY c.doc_a, c.doc_b)
        SELECT doc_a, doc_b,
               CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) AS jaccard
        FROM shared
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= 0.5
    """,
}

# --- D12/D13: rolling-hash winnowing fingerprints (rows-only) ----------------
# Schleimer et al. 2003 local fingerprinting: any shared substring of
# length >= k+w-1 between two documents yields >=1 shared fingerprint.
# Kernel is numpy-vectorized (kernels/fingerprint.py), applied via
# mapInPandas.
WINNOW_DDL = "doc_id bigint, fp bigint, pos int"


def winnow_fingerprints_of(docs: DataFrame, k: int = 16, w: int = 8) -> DataFrame:
    """Winnowing fingerprints from any (doc_id, text) frame — per-doc
    kernel, incremental-slice-safe like shingle_rows_of."""
    import pandas as pd

    from deed_ocr_spark.kernels.fingerprint import winnow_arrays_many

    d = docs.select("doc_id", "text")

    def kernel(batches):
        # whole-batch vectorization: ONE rolling-hash + windowed-argmin pass
        # over the concatenated Arrow batch (winnow_arrays_many), no
        # per-document numpy dispatch — byte-identical to the scalar
        # winnow_arrays per document (property-tested), 2.5x on sf0.1 docs
        for pdf in batches:
            if not len(pdf):
                continue
            texts = [t or "" for t in pdf["text"]]
            di, hs, ps = winnow_arrays_many(texts, k=k, w=w)
            if len(hs):
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"].to_numpy()[di],
                        "fp": hs,
                        "pos": ps.astype("int32"),
                    }
                )

    return d.mapInPandas(kernel, WINNOW_DDL)


def d12_winnow_fingerprints(
    spark: SparkSession, sf_dir: str, k: int = 16, w: int = 8
) -> DataFrame:
    # k=16/w=8 ⇒ shared-substring guarantee at 23 chars (~4 words): short
    # incidental overlaps (ubiquitous in a small-vocabulary corpus) don't
    # fingerprint, long verbatim passages always do.
    return winnow_fingerprints_of(_docs_rebalanced(spark, sf_dir), k=k, w=w)


def winnow_dup_pairs_from(
    fps: DataFrame, min_shared: int = 1, max_df: int = 64
) -> DataFrame:
    """Dup pairs from a (doc_id, fp) fingerprint table.

    ``max_df`` is the document-frequency cap (standard winnowing/MOSS
    practice): a fingerprint shared by F documents contributes F²/2 join
    rows, so one ubiquitous boilerplate phrase ("IN WITNESS WHEREOF ...")
    at corpus scale is a guaranteed hot key — fps with df > max_df are
    dropped BEFORE the self-join, bounding per-key fanout at max_df²/2.

    Recall contract: winnowing guarantees >=1 shared fingerprint per shared
    substring of length >= k+w-1, so at the default ``min_shared=1`` every
    long verbatim overlap is recalled — UNLESS its only qualifying windows
    are corpus boilerplate (df > max_df), which is exactly the content
    dedup should ignore. Raising min_shared trades that recall for
    precision.

    Shape (round-7 optimization): one fp-keyed aggregate collects each
    fingerprint's distinct doc set (collect_set ≡ the old distinct), the
    df cap becomes an array-size filter, and the pairs expand locally
    (_PAIR_EXPAND) instead of a self-join. The previous join form scanned
    the table four times (two distincts + df count + cap join feeding a
    sort-merge self-join); this form scans once and keeps the single
    genuine shuffle — the (doc_a, doc_b) aggregation. Row-identity with
    the join form is pytest-locked (test_bucketed_signatures,
    test_fingerprint's naive-reference cross-check).
    """
    grouped = _grouped_doc_sets(fps.select("doc_id", "fp"), "fp")
    pairs = (
        grouped.filter((F.size("ds") >= 2) & (F.size("ds") <= max_df))
        .select(F.explode(F.expr(_PAIR_EXPAND)).alias("p"))
        .select("p.doc_a", "p.doc_b")
    )
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def _pairs_over(rows: DataFrame, fp_keep: DataFrame) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing any fingerprint from the
    ``fp_keep`` set, over the given (doc_id, fp) rows."""
    capped = rows.join(fp_keep, "fp")
    a = capped.withColumnRenamed("doc_id", "doc_a")
    b = capped.withColumnRenamed("doc_id", "doc_b")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def reduced_corpus_rel(
    corpus_fps: DataFrame, new_fp_set: DataFrame, new_docs: DataFrame
) -> DataFrame:
    """The mirror route's corpus-side reduction: rows of the FULL
    (old+new) relation carrying a new-doc fingerprint, minus the new
    docs' own rows = the old matching rows. Against an fp-bucketed
    catalog table the fp semi-join rides bucket co-location (the corpus
    side is never exchanged — plan-asserted in tests/test_pair_delta.py)
    and the later doc_id-keyed steps shuffle only the already-reduced
    frame."""
    return (
        corpus_fps.select("doc_id", "fp")
        .join(new_fp_set, "fp", "semi")
        .join(new_docs, "doc_id", "left_anti")
        .distinct()
    )


def winnow_pair_delta(
    old_fps: DataFrame,
    new_fps: DataFrame,
    max_df: int = 64,
    corpus_fps: DataFrame | None = None,
):
    """Incremental maintenance of the dup-PAIR SET (min_shared=1) when
    ``new_fps`` (fingerprints of newly-landed documents) arrive beside
    ``old_fps``: returns ``(added, retracted)`` DataFrames of
    (doc_a, doc_b) such that

        pairs(old + new)  ==  pairs(old)  ∪ added  −  retracted

    (property-tested). The day-2 economics this buys at corpus scale:
    ``added`` joins the SMALL new side against the table (|new| × corpus
    instead of corpus × corpus), and ``retracted`` — pairs that lose
    their support because a fingerprint's document frequency crossed the
    ``max_df`` boilerplate cap when the new docs landed — is provably
    confined to pairs among the docs carrying a CROSSING fingerprint:
    a crossing fp had df ≤ max_df before, so the affected-doc set is at
    most max_df per crossing fp, and a pair with one endpoint outside it
    cannot have been supported by a crossing fp (both endpoints of a
    supporting fp carry it). Bounded work: O(max_df² · crossing fps).

    Maintains pair EXISTENCE, not shared_fps counts (counts of surviving
    pairs can drop when one of several shared fps crosses the cap —
    maintaining them needs per-pair support deltas, which is the full
    recompute in disguise). Compare Iceberg's incremental read between
    snapshots: the caller obtains old/new row provenance from the
    signature table's add-dirs (signatures.winnow_dup_pairs_delta).

    ``corpus_fps`` selects the MID-SIZE-append regime (round-5 VERDICT
    #3): pass the full (doc_id, fp) relation as an fp-bucketed catalog
    table (old AND new rows — the state-keyed mirror already reflects
    the append) and every corpus-side reduction becomes a
    storage-partitioned join riding the bucketing: the big side is never
    broadcast-hashed against and never exchanged; only the new/reduced
    frames shuffle. Old rows are recovered by anti-joining the new docs'
    ids (each doc's rows live in exactly one provenance window). Without
    it, the broadcast-hash form below assumes "new is small"."""
    old_raw = old_fps.select("doc_id", "fp")
    new = new_fps.select("doc_id", "fp").distinct()

    # Semi-join reduction — the load-bearing scale property. Everything
    # below is restricted to fps the NEW docs carry before any shuffle:
    # an added pair must share an fp with a new doc, and a crossing fp's
    # df GREW, so both live inside the new docs' fp set. The big table is
    # scanned once (unavoidable — something must find the matching rows)
    # but only MATCHING rows enter a shuffle. The first (unreduced)
    # version shuffled the entire corpus table per consumer and measured
    # SLOWER than the full recompute at 10⁶ docs (92.7 s vs 51.0 s).
    #
    # Like connected_components, this maintenance operator materializes
    # its REDUCED working set (new rows + matching old rows — the small
    # frames by construction) with localCheckpoint: the added/retracted
    # results are separate DataFrames consumed by separate actions, and
    # without materialization every action re-runs the corpus scan and
    # the distincts behind these subtrees.
    new = new.localCheckpoint(eager=True)
    new_fp_set = new.select("fp").distinct()
    new_docs = new.select("doc_id").distinct()
    # semi BEFORE distinct: the raw fingerprint rows (one per position)
    # are filtered down to matching fps first, so the dedup shuffle sees
    # only the reduced rows — distinct(old) ⋉ S == distinct(old ⋉ S).
    if corpus_fps is None:
        # The fp set is BROADCAST: "new is small" is this route's
        # contract (a landed partition vs the corpus), and a
        # broadcast-hash semi means the corpus side is scanned map-side
        # and never shuffled — the sort-merge alternative re-shuffles
        # the whole table, which is the full recompute's cost again.
        old_rel = (
            old_raw.join(F.broadcast(new_fp_set), "fp", "semi")
            .distinct()
            .localCheckpoint(eager=True)
        )
    else:
        # Mid-size append: semi-reduce the bucketed mirror (no exchange,
        # no broadcast of a too-big fp set), then carve out the old rows.
        # Integrity check FIRST (same contract as the broadcast route's
        # check below): the mirror carve-out anti-joins the new ids, so a
        # re-landed doc under an existing id would be silently deleted
        # from the old relation instead of raising — corrupting `added`
        # and the per-fp dfs with no error. Costs one extra column-pruned
        # pass over the old provenance (doc_id only); no broadcast hint —
        # the new side is mid-size by this route's assumption.
        overlap = old_raw.select("doc_id").join(new_docs, "doc_id", "semi")
        if not overlap.isEmpty():
            sample = [
                r.doc_id for r in overlap.select("doc_id").limit(3).collect()
            ]
            raise ValueError(
                f"winnow_pair_delta requires old/new doc_id disjointness, "
                f"but new docs {sample}... already exist in the old "
                "fingerprint rows (a partition re-landed under existing "
                "ids?) — run the full winnow_dup_pairs recompute instead"
            )
        old_rel = reduced_corpus_rel(
            corpus_fps, new_fp_set, new_docs
        ).localCheckpoint(eager=True)
    # Contract check (round-5 ADVICE): old and new must not share doc_ids
    # — a corrected partition re-landed under existing ids would make
    # `added` report pre-existing pairs and double-count per-fp dfs, with
    # no error. Asserted on the already-reduced (checkpointed, small)
    # frames, so the cost is one broadcast semi over them. A shared doc
    # whose old rows carry NONE of the new fps evades this check, but
    # also contributes nothing to the frames the delta computes over —
    # the dominant hazard (re-landed content → identical fps) is caught.
    # (The mirror route ran its own, stronger check above — its carve-out
    # would otherwise hide the overlap from this reduced-frame form.)
    if corpus_fps is None:
        overlap = old_rel.join(F.broadcast(new_docs), "doc_id", "semi")
        if not overlap.isEmpty():
            sample = [
                r.doc_id for r in overlap.select("doc_id").limit(3).collect()
            ]
            raise ValueError(
                f"winnow_pair_delta requires old/new doc_id disjointness, "
                f"but new docs {sample}... already exist in the old "
                "fingerprint rows (a partition re-landed under existing "
                "ids?) — run the full winnow_dup_pairs recompute instead"
            )
    full_rel = old_rel.unionByName(new)
    # per-fp counts over full_rel/old_rel EQUAL the global document
    # frequencies for every fp in the new docs' fp set: all rows carrying
    # those fps are present by construction
    df_full = full_rel.groupBy("fp").agg(F.count(F.lit(1)).alias("dff"))
    df_old = old_rel.groupBy("fp").agg(F.count(F.lit(1)).alias("dfo"))
    under_full = df_full.filter(F.col("dff") <= max_df).select("fp")

    # added: (new × relevant) over under-cap fps, canonicalized — one
    # side is always a new doc, so no pre-existing pair can appear
    a = new.join(under_full, "fp").withColumnRenamed("doc_id", "doc_a")
    b = full_rel.join(under_full, "fp").withColumnRenamed("doc_id", "doc_b")
    added = (
        a.join(b, "fp")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
        )
        .distinct()
    )

    # retracted: confined to docs carrying a fp that CROSSED the cap.
    # Common case (no crossing — checked on the tiny reduced frame, a
    # bounded maintenance-control scalar like the components fixpoint
    # test): skip the extra corpus scans entirely.
    crossing = (
        df_full.join(df_old, "fp")
        .filter((F.col("dfo") <= max_df) & (F.col("dff") > max_df))
        .select("fp")
    )
    affected = old_rel.join(crossing, "fp", "semi").select("doc_id").distinct()
    if affected.isEmpty():
        return added, added.limit(0)

    # Affected docs' full row sets (a second reduced scan) may hold fps
    # outside the new set; their global df is reconstructed as old-count
    # plus the new rows' contribution — never an unreduced aggregate.
    # ``affected``/``d_fps`` are bounded (≤ max_df docs per crossing fp),
    # so they broadcast in BOTH routes; the mirror route scans the
    # bucketed table instead of the plain old paths (affected docs are
    # old docs, so their mirror rows ARE the old rows; the fp-keyed scan
    # additionally anti-joins the new docs to keep dfo an OLD count).
    old_scan = old_raw if corpus_fps is None else corpus_fps.select(
        "doc_id", "fp"
    )
    d_rows = (
        old_scan.join(F.broadcast(affected), "doc_id", "semi")
        .distinct()
        .localCheckpoint(eager=True)
    )
    d_fps = d_rows.select("fp").distinct()
    dfo_base = old_scan.join(F.broadcast(d_fps), "fp", "semi")
    if corpus_fps is not None:
        dfo_base = dfo_base.join(new_docs, "doc_id", "left_anti")
    dfo_d = (
        dfo_base.distinct()
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("dfo"))
    )
    dfn_d = (
        new.join(d_fps, "fp", "semi")
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("dfn"))
    )
    df_d = dfo_d.join(dfn_d, "fp", "left").select(
        "fp",
        F.col("dfo"),
        (F.col("dfo") + F.coalesce(F.col("dfn"), F.lit(0))).alias("dff"),
    ).localCheckpoint(eager=True)
    before = _pairs_over(d_rows, df_d.filter(F.col("dfo") <= max_df).select("fp"))
    after = _pairs_over(d_rows, df_d.filter(F.col("dff") <= max_df).select("fp"))
    # before/after are distinct by construction, so exceptAll is already
    # duplicate-free
    retracted = before.exceptAll(after)
    return added, retracted


# --- D15: benchmark-contamination scan (unregistered; 50-row driver cap —
# DuckDB-oracle-checked in tests/test_contamination.py instead) ---------------
# The training-data hygiene op the dedup family doesn't cover: flag corpus
# documents sharing >= min_shared 3-token shingles with a (small) benchmark
# /eval set. The SCALE SHAPE is the point and differs from d7: the
# benchmark side is tiny, so its shingle set BROADCASTS and the corpus
# side is never shuffled — a map-side hash join + partial aggregation,
# vs d7's shuffle-both-sides LSH candidate join. Both sides read the
# materialized shingle table (two parquet scans, no re-tokenize).
def d15_contamination(
    spark: SparkSession,
    sf_dir: str,
    bench_mod: int = 97,
    min_shared: int = 3,
) -> DataFrame:
    from deed_ocr_spark.signatures import (
        SHINGLES,
        ensure_signature_table,
        read_signature_table,
    )

    sh = read_signature_table(spark, ensure_signature_table(spark, sf_dir, SHINGLES))
    bench = sh.filter((F.col("doc_id") % bench_mod) == 0).select(
        F.col("doc_id").alias("bench_id"), "sh"
    )
    corpus = sh.filter((F.col("doc_id") % bench_mod) != 0)
    return (
        corpus.join(F.broadcast(bench), "sh")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("shared_shingles"))
        .filter(F.col("shared_shingles") >= min_shared)
        .select("doc_id", "bench_id", "shared_shingles")
    )


# --- D14: the composed training-data keep-list -------------------------------
# What a 100 TB curation pipeline actually runs, as ONE plan: language
# gate ⋈ quality gate → exact-dedup keeper semi-join → MinHash-LSH
# near-dup anti-join. Each stage is an already-oracled operator; composing
# them keeps everything in equi-joins (Catalyst reorders + broadcasts the
# tiny pair sets) and the output is the surviving corpus.
def d14_training_keeplist(
    spark: SparkSession, sf_dir: str, max_mean_token_len: float = 5.8
) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    lang = d3_lang_id(spark, sf_dir).select("doc_id", "guess_en")
    qual = d4_quality_score(spark, sf_dir).select("doc_id", "mean_token_len")
    keepers = d1_dedup_exact(spark, sf_dir).select(F.col("keeper").alias("doc_id"))
    # the near-dup anti-join side is d9's pair set from the band-bucketed
    # mirror: the composed plan never re-tokenizes and re-MinHashes the
    # corpus a second time just to name the docs to drop
    dup_b = (
        d9b_minhash_band_pairs_bucketed(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    return (
        d.join(lang, "doc_id")
        .join(qual, "doc_id")
        .filter(
            (F.col("guess_en") == 1)
            & (F.col("mean_token_len") <= F.lit(max_mean_token_len))
        )
        .join(keepers, "doc_id", "semi")
        .join(dup_b, "doc_id", "left_anti")
        .select("doc_id", "n_chars")
    )


# --- D13: winnowing dup pairs from the fp-bucketed fingerprint mirror --------
# Every fp-clustered step — distinct, df count, df-cap filter, pair
# expansion — rides bucket co-location instead of shuffling. The only
# exchange left in the plan is the final (doc_a, doc_b) aggregation, whose
# key genuinely differs from fp.
def d13b_winnow_dup_pairs_bucketed(
    spark: SparkSession,
    sf_dir: str,
    min_shared: int = 1,
    max_df: int = 64,
) -> DataFrame:
    from deed_ocr_spark.signatures import (
        WINNOW_FPS,
        ensure_bucketed_signature_table,
    )

    name = ensure_bucketed_signature_table(spark, sf_dir, WINNOW_FPS, key="fp")
    fps = spark.table(name).select("doc_id", "fp")
    return winnow_dup_pairs_from(fps, min_shared=min_shared, max_df=max_df)


# --- D9: band pairs from the band-bucketed bands mirror ----------------------
# Same shape as d13: the per-band grouping rides bucket co-location; the
# only exchange left is the final (doc_a, doc_b) distinct (plan-locked in
# tests/test_bucketed_signatures.py).
def d9b_minhash_band_pairs_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deed_ocr_spark.signatures import (
        BANDS,
        ensure_bucketed_signature_table,
    )

    name = ensure_bucketed_signature_table(spark, sf_dir, BANDS, key="band")
    return _band_pairs_of(spark.table(name).select("doc_id", "band"))


# --- D8: MinHash signatures from the doc_id-bucketed shingles mirror ---------
# The 4-seed md5 signature over the materialized shingle rows — the
# shingles family IS the tokenize-and-explode pass, durable — and the
# per-doc min-aggregation rides the doc_id bucketing with zero exchanges.
# Measured at sf1.0: 0.40 s → 0.12 s against re-tokenizing the corpus in
# the plan, identical rows.
def d8b_minhash_sig_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deed_ocr_spark.signatures import (
        SHINGLES,
        ensure_bucketed_signature_table,
    )

    name = ensure_bucketed_signature_table(spark, sf_dir, SHINGLES, key="doc_id")
    return _minhash_sig_from(spark.table(name).select("doc_id", "sh"))


# --- D7: Jaccard pipeline from the doc_id-bucketed shingles mirror -----------
# d7's pipeline mixes keys, so unlike d13/d9 it cannot go down to one
# Exchange — the pair expansion and the intersection joins genuinely
# shuffle. The doc_id-clustered steps ride a bucketBy(doc_id) shingles
# mirror, and the LSH candidates come from the band-bucketed BANDS mirror
# (d9's subtree) instead of re-deriving the MinHash signatures from
# shingles inside the plan — the bands family IS that derivation,
# materialized once per corpus. Measured at sf1.0: 2.2 s → 1.3 s,
# identical pairs.
def d7b_ngram_jaccard_pairs_bucketed(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.5,
) -> DataFrame:
    from deed_ocr_spark.signatures import (
        BANDS,
        SHINGLES,
        ensure_bucketed_signature_table,
    )

    # d7 reads TWO independently-versioned mirrors (shingles for the
    # intersection, bands for the candidates). A corpus append landing
    # between the two ensure calls would hand back mirrors of different
    # corpus snapshots — candidate docs with no shingle rows silently
    # drop pairs instead of raising. Re-resolving the first mirror after
    # the second pins a consistent snapshot: the name is state-keyed
    # (version + add dirs), so any interleaved append changes it.
    for _ in range(4):
        name = ensure_bucketed_signature_table(
            spark, sf_dir, SHINGLES, key="doc_id"
        )
        bands_t = ensure_bucketed_signature_table(
            spark, sf_dir, BANDS, key="band"
        )
        if (
            ensure_bucketed_signature_table(
                spark, sf_dir, SHINGLES, key="doc_id"
            )
            == name
        ):
            break
    else:  # pragma: no cover — requires 4 interleaved appends
        raise RuntimeError(
            "could not pin a consistent shingles/bands mirror pair "
            "(concurrent append storm) — retry once the appends settle"
        )
    bands = spark.table(bands_t).select("doc_id", "band")
    return ngram_jaccard_pairs_from(
        spark.table(name).select("doc_id", "sh"),
        cand=_band_pairs_of(bands),
        cand_docs=_band_cand_docs(bands),
        threshold=threshold,
    )


# NOT registered (50-row driver cap): d12_winnow_fingerprints — the
# winnowing kernel runs inside registered d13 every round and d12's own
# output is naive-reference cross-checked in tests/test_fingerprint.py —
# and, since round 6, d6b_simhash_fast, whose coverage lives entirely in
# the d6/d6b agreement suite (tests/test_simhash.py). Demotions freed
# slots for the oracle-backed j6_asof_join and d16_dup_components
# (components.py).
QUERIES = {
    "d14_training_keeplist": d14_training_keeplist,
    "d13_winnow_dup_pairs": d13b_winnow_dup_pairs_bucketed,
    "d11_bpe_token_count": d11_bpe_token_count,
    "d1_dedup_exact": d1_dedup_exact,
    "d2_token_count": d2_token_count,
    "d3_lang_id": d3_lang_id,
    "d4_quality_score": d4_quality_score,
    "d5_fingerprint": d5_fingerprint,
    "d6_simhash": d6_simhash,
    "d7_ngram_jaccard_pairs": d7b_ngram_jaccard_pairs_bucketed,
    "d8_minhash_sig": d8b_minhash_sig_bucketed,
    "d9_minhash_band_pairs": d9b_minhash_band_pairs_bucketed,
}
