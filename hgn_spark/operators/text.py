"""Text-analysis operators over the `documents` table.

Engine extension family (no reference counterpart — the reference's
only string handling happens in config space): language-ID heuristics,
quality scoring, token statistics, shingling and fingerprinting for a
training-data pipeline. Everything is native `pyspark.sql.functions`
(higher-order array functions) — no Python UDFs, so the hot path stays
in whole-stage codegen and scales with the scan.

Fingerprints use md5 (not xxhash64) because md5 is identical across
engines — the DuckDB oracles hash-check the exact fingerprint bytes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from hgn_spark.catalog import load_table
from hgn_spark.registry import register

STOPWORDS = ("the", "a", "of", "and", "to")

# Marker tokens for the n-gram/keyword language-ID heuristic. The
# synthetic corpus shares one vocabulary across its `lang` labels, so
# markers are engine-vocabulary words: the point is the *mechanism*
# (score per language, argmax with deterministic tie-break), verified
# exactly against the oracle.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a"),
    "es": ("table", "row"),
    "de": ("data", "batch"),
    "fr": ("value", "key"),
    "zh": ("spark", "query"),
}


def tokens(col: str | Column) -> Column:
    """Lower-cased whitespace tokens with empties removed."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), " "), lambda t: t != F.lit(""))


def shingles(tok: Column, n: int = 3) -> Column:
    """Positional word n-grams (distinct), empty array below n tokens."""
    joined = F.transform(
        F.sequence(F.lit(0), F.size(tok) - n),
        lambda i: F.concat_ws(" ", *[F.element_at(tok, i + k + 1) for k in range(n)]),
    )
    return F.when(F.size(tok) >= n, F.array_distinct(joined)).otherwise(
        F.array().cast("array<string>")
    )


# DuckDB twin of `shingles` (1-based list indexing, exclusive range end).
DUCK_SHINGLES = (
    "list_distinct(list_transform(range(1, greatest(len(l) - 1, 1)), "
    "i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))"
)
DUCK_TOKENS = "list_filter(string_split(lower(text), ' '), t -> t <> '')"


def _sql_str_list(items: tuple[str, ...]) -> str:
    """Explicit SQL string-list literal. Python tuple repr happens to
    look like SQL for >= 2 elements but emits a trailing comma for one
    (``('the',)``) — render explicitly so a future 1-element marker or
    stopword set cannot produce invalid oracle SQL."""
    return "(" + ", ".join("'" + s.replace("'", "''") + "'" for s in items) + ")"


_SQL_STOPWORDS = _sql_str_list(STOPWORDS)


def quality_gate(l: Column) -> Column:
    """The corpus quality gate over a token-array column: 20-2000
    tokens and a stopword share under 0.3. The one definition read by
    `text_profile`, `corpus_source_report` and the curation pipeline;
    `DUCK_QUALITY_GATE` is its DuckDB twin."""
    n = F.size(l)
    stop_hits = F.size(F.filter(l, lambda t: t.isin(*STOPWORDS)))
    return n.between(20, 2000) & (stop_hits * 1.0 / F.greatest(n, F.lit(1)) < 0.3)


DUCK_QUALITY_GATE = (
    f"(len(l) BETWEEN 20 AND 2000 AND "
    f"len(list_filter(l, t -> t IN {_SQL_STOPWORDS})) * 1.0 "
    f"/ greatest(len(l), 1) < 0.3)"
)

CTX_LEN = 512   # tokens per packed training chunk
N_SHARDS = 8    # parallel packing streams


def pack_offsets(df: DataFrame) -> DataFrame:
    """Concat-and-chunk sequence packing, the LLM-pretraining step that
    lays tokenized documents head-to-tail and slices the stream into
    CTX_LEN-token chunks. Appends to a (doc_id, n_tokens, ...) frame
    each document's shard, stream offset (tok_start), owning chunk and
    offset within it; a doc whose tokens straddle a boundary spans
    chunks, as in real packing. The one packing rule, read by
    `text_profile` and the curation pipeline.

    Scale shape: documents split into N_SHARDS deterministic shards
    (production: hash(doc_id) % shards) packed independently, so the
    running-offset window is per shard, the only shuffle is the shard
    partitioning and no global order exists anywhere. Chunk ids are
    shard-local; (shard, chunk_id) is the global chunk key. The window
    runs over ``df`` as given, so per-row work projected into it stays
    on its spread partitions, not on the <= N_SHARDS window tasks."""
    w = (
        W.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    return (
        df.withColumn("shard", F.col("doc_id") % N_SHARDS)
        .withColumn("tok_start", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .withColumns(
            {
                "chunk_id": F.floor(F.col("tok_start") / CTX_LEN).cast("long"),
                "chunk_offset": F.col("tok_start") % CTX_LEN,
            }
        )
    )


def _duck_lang_score(markers: tuple[str, ...]) -> str:
    return f"len(list_filter(l, t -> t IN {_sql_str_list(markers)}))"


@register(
    "text_profile",
    # Repetition-signal and packing columns absorbed from two former
    # standalone rows (r7 window consolidation, paying for the new
    # streaming / heavy-hitter / curation-report oracle rows): all
    # three are per-document frames over the same corpus scan, joined
    # on doc_id into one hash-checked row. Repetition columns LEFT-join (defined for docs
    # with >= 2 tokens); packing covers every doc and inner-joins —
    # 0-token docs are excluded from the profile on both sides, and
    # since they contribute 0 tokens to the running offsets, dropping
    # their rows changes no other doc's tok_start.
    oracle=f"""
    WITH tok AS (SELECT doc_id, text, {DUCK_TOKENS} AS l FROM documents),
    scored AS (
      SELECT *,
             list_reverse_sort([
               {", ".join(
                   "{'score': " + _duck_lang_score(m) + ", 'lang': '" + lang + "'}"
                   for lang, m in sorted(LANG_MARKERS.items())
               )}
             ])[1] AS best
      FROM tok WHERE len(l) > 0),
    prof AS (
    SELECT doc_id,
           len(l) AS n_tokens,
           len(list_distinct(l)) AS n_distinct,
           round(list_sum(list_transform(l, t -> len(t))) * 1.0 / len(l), 4)
             AS avg_token_len,
           round(len(list_filter(l, t -> t IN {_SQL_STOPWORDS})) * 1.0 / len(l), 4)
             AS stopword_ratio,
           {DUCK_QUALITY_GATE} AS is_quality,
           best.lang AS pred_lang,
           best.score AS lang_score,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))
             AS n_regex_tokens,
           CAST(list_sum(list_transform(l, t -> CAST(ceil(len(t) / 4.0) AS BIGINT)))
             AS BIGINT) AS est_bpe_tokens,
           len({DUCK_SHINGLES}) AS n_shingles,
           md5(array_to_string(l, ' ')) AS fp_exact,
           md5(array_to_string(list_sort(list_distinct(l)), ' ')) AS fp_bag
    FROM scored),
    rbase AS (SELECT doc_id, l FROM tok WHERE len(l) >= 2),
    rgrams AS (
      SELECT doc_id, 'w' AS kind, u.g AS gram FROM rbase, unnest(l) AS u(g)
      UNION ALL
      SELECT doc_id, 'g2' AS kind, g2.g AS gram FROM rbase,
        unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])) AS g2(g)
    ),
    rcnt AS (SELECT doc_id, kind, gram, count(*) AS c
             FROM rgrams GROUP BY doc_id, kind, gram),
    ragg AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN kind = 'w' THEN c ELSE 0 END) AS BIGINT) AS rt,
             CAST(max(CASE WHEN kind = 'w' THEN c END) AS BIGINT) AS top_c,
             CAST(sum(CASE WHEN kind = 'w' AND c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_c,
             CAST(sum(CASE WHEN kind = 'g2' THEN c ELSE 0 END) AS BIGINT) AS n2,
             CAST(count(CASE WHEN kind = 'g2' THEN 1 END) AS BIGINT) AS nd2,
             CAST(max(CASE WHEN kind = 'g2' THEN c END) AS BIGINT) AS top2
      FROM rcnt GROUP BY doc_id),
    rep AS (
      SELECT doc_id,
             round(top_c * 1.0 / rt, 4) AS top_token_frac,
             round(dup_c * 1.0 / rt, 4) AS dup_token_frac,
             round((n2 - nd2) * 1.0 / n2, 4) AS dup_2gram_frac,
             round(top2 * 1.0 / n2, 4) AS top_2gram_frac,
             (top_c * 1.0 / rt > 0.2 OR (n2 - nd2) * 1.0 / n2 > 0.4)
               AS is_repetitive
      FROM ragg),
    pt AS (
      SELECT doc_id, doc_id % {N_SHARDS} AS shard,
             CAST(len(l) AS BIGINT) AS nt
      FROM tok),
    pk AS (
      SELECT doc_id, shard,
             CAST(coalesce(sum(nt) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS tok_start
      FROM pt)
    SELECT prof.*,
           rep.top_token_frac, rep.dup_token_frac, rep.dup_2gram_frac,
           rep.top_2gram_frac, rep.is_repetitive,
           pk.shard, pk.tok_start,
           CAST(floor(pk.tok_start / {CTX_LEN}.0) AS BIGINT) AS chunk_id,
           pk.tok_start % {CTX_LEN} AS chunk_offset
    FROM prof
    LEFT JOIN rep USING (doc_id)
    JOIN pk USING (doc_id)
    """,
    tags=("text", "dedup", "quality", "packing", "llm-pipeline"),
)
def text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text profile, all scan-side in one pass:

    - quality stats (token counts, average token length, stopword
      ratio, a quality gate) — the standard pre-training corpus filters;
    - keyword-profile language ID: score each language by marker-token
      hits, pick the argmax (ties break toward the lexicographically
      larger language tag — struct comparison semantics, identical in
      both engines);
    - token budgets two more ways: a BPE-ish regex segmentation
      (letter runs | digit runs | single punctuation — the GPT-2
      pre-tokenizer shape, restricted to a pattern with identical
      Java/RE2 semantics) and the chars/4 subword estimate (ceil per
      word, so short words still cost 1) — the standard LLM-token
      budget heuristic.

    Execution shape (r14, guide §2.3/§2.4): ONE scan. The former plan
    re-scanned and re-tokenized `documents` three times (profile
    projection, repetition explode+groupBy, packing window) and glued
    the per-doc grains back with two joins; but the repetition signals
    are per-row functions of the doc's own tokens (scan-side sorted
    run-length folds, see `_sorted_run_stats`) and the packing cumsum
    is a window over columns the profile projection already has —
    0-token docs contribute 0 tokens to the running offsets and were
    dropped by the former inner join anyway, so running the window on
    the filtered frame is value-identical. Plan: 3 scans + 2 joins +
    explode + 2 agg exchanges + window → 1 scan + 1 window exchange."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        max(spark.sparkContext.defaultParallelism, 8)
    )
    d = docs.select("doc_id", "text", tokens("text").alias("l")).filter(
        F.size("l") > 0
    )
    n = F.size("l")
    # Repetition signals (>= 2 tokens; single-token docs keep the nulls
    # the former LEFT join produced). The fold structs materialize as
    # their own columns so each evaluates once per row.
    d = d.withColumn(
        "_ws", F.when(n >= 2, _sorted_run_stats(F.col("l")))
    ).withColumn(
        "_gs", F.when(n >= 2, _sorted_run_stats(_positional_2grams(F.col("l"))))
    )
    stop_hits = F.size(F.filter(F.col("l"), lambda t: t.isin(*STOPWORDS)))
    total_len = F.aggregate(F.col("l"), F.lit(0), lambda acc, t: acc + F.length(t))
    candidates = [
        F.struct(
            F.size(F.filter(F.col("l"), lambda t: t.isin(*m))).alias("score"),
            F.lit(lang).alias("lang"),
        )
        for lang, m in sorted(LANG_MARKERS.items())
    ]
    best = F.array_max(F.array(*candidates))
    prof = d.select(
        "doc_id",
        n.alias("n_tokens"),
        F.size(F.array_distinct("l")).alias("n_distinct"),
        F.round(total_len * 1.0 / n, 4).alias("avg_token_len"),
        F.round(stop_hits * 1.0 / n, 4).alias("stopword_ratio"),
        quality_gate(F.col("l")).alias("is_quality"),
        best.getField("lang").alias("pred_lang"),
        best.getField("score").alias("lang_score"),
        F.size(
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), F.lit(0)
            )
        ).cast("long").alias("n_regex_tokens"),
        F.aggregate(
            F.col("l"),
            F.lit(0).cast("long"),
            lambda acc, t: acc + F.ceil(F.length(t) / 4.0),
        ).alias("est_bpe_tokens"),
        # Fingerprint block (formerly text_shingle_fingerprint — merged so
        # the driver window keeps room for the rows-only flagship entries):
        # distinct 3-gram shingle count (the dedup feature), the
        # whitespace-normalized exact fingerprint and the
        # order-insensitive bag-of-words fingerprint (md5:
        # byte-identical across engines). Same single scan-side pass.
        F.size(shingles(F.col("l"))).alias("n_shingles"),
        F.md5(F.array_join(F.col("l"), " ")).alias("fp_exact"),
        F.md5(F.array_join(F.sort_array(F.array_distinct("l")), " ")).alias(
            "fp_bag"
        ),
        # Repetition signals inline (null structs for n==1 docs yield
        # the same nulls the former LEFT join produced).
        *_repetition_cols(F.col("_ws"), F.col("_gs"), n),
    )
    return pack_offsets(prof)


CHUNK_SIZE = 64    # tokens per document chunk
CHUNK_STRIDE = 48  # chunk start step (overlap = 16 tokens)


@register(
    "chunk_documents",
    # chunk count = ceil(max(n - size, 0) / stride) + 1: starts at
    # 0, stride, 2*stride, ...; the last start is within `size` of the
    # end, so the final (possibly short) chunk always reaches token n.
    # list_slice / slice both clamp past the list end, so the two
    # engines agree on the ragged tail.
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents),
    n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
    c AS (
      SELECT doc_id, i AS chunk_id,
             list_slice(toks, i * {CHUNK_STRIDE} + 1,
                        i * {CHUNK_STRIDE} + {CHUNK_SIZE}) AS ctoks
      FROM (SELECT doc_id, toks,
                   unnest(range(0, CAST(ceil(greatest(n - {CHUNK_SIZE}, 0)
                                             * 1.0 / {CHUNK_STRIDE}) AS BIGINT)
                                   + 1)) AS i
            FROM n))
    SELECT doc_id, chunk_id, chunk_id * {CHUNK_STRIDE} AS tok_start,
           len(ctoks) AS n_tokens,
           md5(array_to_string(ctoks, ' ')) AS chunk_hash
    FROM c
    """,
    tags=("text", "chunking", "llm-pipeline"),
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document sliding-window chunking — the retrieval/embedding
    twin of `pack_offsets` (which concatenates docs head-to-tail
    for pretraining): each document alone is sliced into
    CHUNK_SIZE-token windows stepping by CHUNK_STRIDE, so consecutive
    chunks overlap by size−stride tokens and no chunk crosses a
    document boundary. Emits (doc_id, chunk_id, tok_start, n_tokens,
    chunk_hash) — the hash (md5 of the space-joined window) is what a
    downstream embedding cache keys on.

    Scale shape: entirely scan-side — tokenize, one `sequence` +
    `transform`/`slice` HOF pass, one explode; zero shuffles, so at
    100 TB the operator is embarrassingly partition-parallel and the
    chunk stream feeds the embedding UDF without a repartition."""
    base = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", tokens("text").alias("toks"))
        .filter(F.size("toks") > 0)
        .withColumn("n", F.size("toks"))
        .withColumn(
            "n_chunks",
            (
                F.ceil(
                    F.greatest(F.col("n") - CHUNK_SIZE, F.lit(0)) / CHUNK_STRIDE
                )
                + 1
            ).cast("long"),
        )
    )
    exploded = base.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.col("n_chunks") - 1)
        ).alias("chunk_id"),
    ).withColumn(
        "ctoks",
        F.slice(
            F.col("toks"), F.col("chunk_id") * CHUNK_STRIDE + 1, F.lit(CHUNK_SIZE)
        ),
    )
    return exploded.select(
        "doc_id",
        "chunk_id",
        (F.col("chunk_id") * CHUNK_STRIDE).alias("tok_start"),
        F.size("ctoks").cast("long").alias("n_tokens"),
        F.md5(F.array_join("ctoks", " ")).alias("chunk_hash"),
    )


VOCAB_TOP_PAIRS = 100  # merge candidates surfaced per BPE-style round


@register(
    "text_vocab_top_pairs",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents),
    p AS (
      SELECT unnest(list_transform(range(2, len(toks) + 1),
                    i -> toks[i - 1] || ' ' || toks[i])) AS pair
      FROM t WHERE len(toks) >= 2),
    c AS (SELECT pair, count(*) AS n FROM p GROUP BY pair)
    SELECT pair, n, rnk FROM (
      SELECT pair, n,
             row_number() OVER (ORDER BY n DESC, pair) AS rnk
      FROM c)
    WHERE rnk <= {VOCAB_TOP_PAIRS}
    """,
    tags=("text", "vocab", "topk", "llm-pipeline"),
)
def text_vocab_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide adjacent-token-pair frequencies, top
    VOCAB_TOP_PAIRS — the counting primitive of one BPE/WordPiece
    vocabulary-training round (each merge round promotes the most
    frequent adjacent pair; a full trainer iterates this count with the
    winning pair fused, re-running the same plan on the re-tokenized
    stream).

    Scale shape: pair extraction is one scan-side HOF pass (sequence +
    transform over the token array, one explode — no join, no
    self-zip shuffle); the count is a map-side-combinable groupBy
    whose shuffle carries one row per DISTINCT pair, and the global
    top-k is TakeOrderedAndProject (per-partition heaps, k rows to the
    driver — never a global sort). Deterministic tie-break on
    (count desc, pair asc) keeps the cut reproducible across engines."""
    pairs = (
        load_table(spark, sf_dir, "documents")
        .select(tokens("text").alias("toks"))
        .filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(2, size(toks)), "
                    "i -> concat(element_at(toks, i - 1), ' ', element_at(toks, i)))"
                )
            ).alias("pair")
        )
    )
    counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n"))
    # orderBy+limit FIRST: Spark plans TakeOrderedAndProject
    # (per-partition heaps); the ranking window then runs over only the
    # k surviving rows — never a single-partition window on the full
    # distinct-pair set (same discipline as topk_per_group_and_global).
    topk = counts.orderBy(F.col("n").desc(), F.col("pair")).limit(VOCAB_TOP_PAIRS)
    w = W.orderBy(F.col("n").desc(), F.col("pair"))
    return topk.withColumn("rnk", F.row_number().over(w)).select(
        "pair", "n", "rnk"
    )


DECON_N = 7       # n-gram length for contamination matching
DECON_BENCH_MOD = 29  # doc_id % MOD == 0 plays the held-out benchmark set


@register(
    "decontaminate_ngram_overlap",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {DUCK_TOKENS} AS l FROM documents),
    g AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(l) - {DECON_N - 2}, 1)),
               i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3]
                 || ' ' || l[i+4] || ' ' || l[i+5] || ' ' || l[i+6]))) AS gram
      FROM tok WHERE len(l) >= {DECON_N}),
    bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % {DECON_BENCH_MOD} = 0),
    corpus AS (SELECT doc_id, gram FROM g WHERE doc_id % {DECON_BENCH_MOD} <> 0),
    sizes AS (SELECT doc_id, count(*) AS n_grams FROM corpus GROUP BY doc_id),
    hits AS (
      SELECT c.doc_id, count(*) AS n_overlap
      FROM corpus c JOIN bench USING (gram) GROUP BY c.doc_id)
    SELECT h.doc_id, h.n_overlap, s.n_grams,
           round(h.n_overlap * 1.0 / s.n_grams, 4) AS overlap_frac
    FROM hits h JOIN sizes s USING (doc_id)
    """,
    tags=("text", "dedup", "llm-pipeline"),
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — flag training documents that share
    DECON_N (7)-grams with a held-out benchmark set (here the deterministic
    doc_id % DECON_BENCH_MOD (29) == 0 slice plays the eval suite). Output:
    one row per contaminated document with its distinct shared-gram
    count and contamination fraction; clean documents never leave the
    map side.

    Scale shape — the asymmetry is the whole design: eval suites are
    tiny (MBs) against a 100 TB corpus, so the benchmark gram set is
    built once, deduplicated, and BROADCAST; the corpus side is a
    scan-side explode of hashed {DECON_N}-grams filtered by the
    broadcast hash join, and the only shuffle is the per-doc aggregation
    of the few surviving hits. Each token is hashed to a long ONCE, and
    a gram is xxhash64 over the {DECON_N} consecutive token-hashes —
    the sliding window then touches only fixed-width longs, never
    strings (the string-window form re-read {DECON_N} UTF8 tokens per
    position; interpreted HOF evaluation of that string traffic was
    measured 7x slower steady-state and collapsed to 30 s+ whenever the
    JIT deoptimized it). The oracle compares string grams — identical
    distinct-counts modulo 64-bit collisions, exactly as before.
    """
    docs = load_table(spark, sf_dir, "documents")
    th = F.transform(tokens("text"), lambda t: F.xxhash64(t))
    def grams_of(l: Column) -> Column:
        return F.when(
            F.size(l) >= DECON_N,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size(l) - DECON_N),
                    lambda i: F.xxhash64(
                        *[F.element_at(l, i + k + 1) for k in range(DECON_N)]
                    ),
                )
            ),
        ).otherwise(F.array().cast("array<long>"))
    is_bench = F.col("doc_id") % DECON_BENCH_MOD == 0
    # The documents table is one parquet file = one partition; spread it
    # before the gram build so the heavy HOF pass uses every core.
    n = max(spark.sparkContext.defaultParallelism, 8)
    base = docs.repartition(n)
    # Token-hash array as a REAL attribute: `grams_of` references it 9
    # times (size guard, sequence bound, 7 window lookups) — as an
    # attribute that is 9 cheap array reads; inlined, CollapseProject
    # would replant the full tokenize+hash transform at every reference.
    # (Multiply-referenced non-trivial expressions block the collapse,
    # so the projection below survives optimization — same trick as the
    # `grams` attribute further down.)
    grams = grams_of(F.col("th"))
    # explode_outer everywhere: plain explode makes the optimizer infer
    # a `size(grams) > 0` pre-filter containing the whole tokenize+hash
    # expression and push it below the repartition — i.e. two extra HOF
    # evaluations per doc on the single pre-shuffle partition. The outer
    # variant infers nothing; null grams are dropped cheaply afterwards
    # on the generated attribute.
    bench = (
        base.filter(is_bench)
        .select("doc_id", th.alias("th"))
        .select(F.explode_outer(grams).alias("gram"))
        .filter(F.col("gram").isNotNull())
        .distinct()
    )
    # One gram-HOF evaluation per corpus doc: project the gram array to
    # an attribute FIRST, then take size and explode off the attribute.
    # (Taking size(expr) and explode(expr) in one select plants the full
    # tokenize+hash expression in the post-Generate Project, i.e. it is
    # re-evaluated once per exploded gram — measured 20x slower.
    # CollapseProject keeps this split because `grams` is referenced
    # twice.) The per-doc count then rides through the explode, so no
    # second pass and no full-corpus shuffle — the only aggregation runs
    # over the rows surviving the broadcast join.
    pre = (
        base.filter(~is_bench)
        .select("doc_id", th.alias("th"))
        .select("doc_id", grams.alias("grams"))
    )
    corpus = (
        pre.select(
            "doc_id", F.size("grams").cast("long").alias("n_grams"), "grams"
        )
        .select("doc_id", "n_grams", F.explode_outer("grams").alias("gram"))
        .filter(F.col("gram").isNotNull())
    )
    return (
        corpus.join(F.broadcast(bench), "gram")
        .groupBy("doc_id", "n_grams")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .select(
            "doc_id",
            "n_overlap",
            "n_grams",
            F.round(F.col("n_overlap") * 1.0 / F.col("n_grams"), 4).alias(
                "overlap_frac"
            ),
        )
    )


# Ordered (pattern, replacement) pairs for corpus scrubbing. Order
# matters: emails contain digit runs, so they must be replaced first.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"\b\d{7,}\b", "<NUMBER>"),
)


def redact_pii(col: str | Column) -> Column:
    """Chained JVM-side regexp_replace scrub (emails → IPs → long digit
    runs) — the standard pre-training text-cleaning step. Stays in
    whole-stage codegen; at 100 TB this is a pure scan-side map with no
    shuffle, so it composes with any ingest pipeline for free."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


@register(
    "redact_pii_docs",
    # The corpus is synthetic (no real PII), so the query plants one
    # deterministic specimen of each PII class per document — derived
    # from doc_id, byte-identical in both engines — and proves the scrub
    # end-to-end: occurrence counts per class plus an md5 fingerprint of
    # the fully redacted text. DuckDB regexp_replace needs the explicit
    # 'g' flag to match Spark's replace-all semantics; the patterns are
    # restricted to syntax Java and RE2 interpret identically. Raw
    # string: \b must reach DuckDB as a word boundary, not a backspace.
    oracle=r"""
    WITH planted AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@mail.example.com via 10.0.'
                  || CAST(doc_id % 256 AS VARCHAR) || '.1 ref '
                  || CAST(9000000 + doc_id AS VARCHAR) AS t
      FROM documents),
    scrubbed AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
               '\b\d{7,}\b', '<NUMBER>', 'g') AS clean
      FROM planted)
    SELECT doc_id,
           CAST(len(regexp_extract_all(clean, '<EMAIL>')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(clean, '<IP>')) AS BIGINT) AS n_ips,
           CAST(len(regexp_extract_all(clean, '<NUMBER>')) AS BIGINT) AS n_numbers,
           md5(clean) AS clean_fp
    FROM scrubbed
    """,
    tags=("text", "pii", "llm-pipeline"),
)
def redact_pii_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale PII scrub as a driver row: plant one deterministic
    email / IPv4 / long-number specimen per document (the synthetic
    corpus carries none), run the chained ``redact_pii`` scrub, and
    emit per-class redaction counts plus the md5 of the cleaned text.

    Execution shape: pure scan-side map — three chained JVM
    regexp_replace calls inside whole-stage codegen, no shuffle, no
    UDF. At 100 TB this composes with ingest for free; the md5
    fingerprint doubles as the exact-dedup key downstream."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        max(spark.sparkContext.defaultParallelism, 8)
    )
    planted = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@mail.example.com via 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".1 ref "), (F.col("doc_id") + 9000000).cast("string"),
    )
    d = docs.select("doc_id", redact_pii(planted).alias("clean"))
    return d.select(
        "doc_id",
        F.regexp_count("clean", F.lit("<EMAIL>")).cast("long").alias("n_emails"),
        F.regexp_count("clean", F.lit("<IP>")).cast("long").alias("n_ips"),
        F.regexp_count("clean", F.lit("<NUMBER>")).cast("long").alias("n_numbers"),
        F.md5("clean").alias("clean_fp"),
    )


def _positional_2grams(l):
    """Positional 2-grams of a token-array column (n-1 grams for n
    tokens)."""
    return F.transform(
        F.sequence(F.lit(0), F.size(l) - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(l, i + 1), F.element_at(l, i + 2)
        ),
    )


def _sorted_run_stats(arr):
    """Per-row frequency stats of an array's values WITHOUT leaving the
    scan: sort a copy, then one O(n) fold over the sorted run structure.
    Returns struct(top, dup, nd) = (max value multiplicity, total count
    of values occurring >1 time, distinct value count) — exactly what a
    groupBy-count of the exploded array would aggregate back, minus the
    explode, the two exchanges and the per-doc rejoin (guide §2.3/§2.4:
    the output is per-document, so no cross-row combine is needed and
    the shuffle was pure overhead). O(n log n) per row, embarrassingly
    parallel; skew is bounded by document length exactly as the explode
    form's (doc, gram) hot keys were."""
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("cnt"),
        F.lit(0).cast("long").alias("top"),
        F.lit(0).cast("long").alias("dup"),
        F.lit(0).cast("long").alias("nd"),
    )

    def _close_run(acc):
        # fold the just-finished run into (top, dup, nd)
        return (
            F.greatest(acc["top"], acc["cnt"]),
            acc["dup"] + F.when(acc["cnt"] > 1, acc["cnt"]).otherwise(F.lit(0).cast("long")),
            acc["nd"] + 1,
        )

    def merge(acc, x):
        top, dup, nd = _close_run(acc)
        return (
            F.when(
                acc["prev"].isNull(),
                F.struct(
                    x.alias("prev"),
                    F.lit(1).cast("long").alias("cnt"),
                    acc["top"].alias("top"),
                    acc["dup"].alias("dup"),
                    acc["nd"].alias("nd"),
                ),
            )
            .when(
                x == acc["prev"],
                F.struct(
                    x.alias("prev"),
                    (acc["cnt"] + 1).alias("cnt"),
                    acc["top"].alias("top"),
                    acc["dup"].alias("dup"),
                    acc["nd"].alias("nd"),
                ),
            )
            .otherwise(
                F.struct(
                    x.alias("prev"),
                    F.lit(1).cast("long").alias("cnt"),
                    top.alias("top"),
                    dup.alias("dup"),
                    nd.alias("nd"),
                )
            )
        )

    def finish(acc):
        top, dup, nd = _close_run(acc)
        return F.struct(
            top.alias("top"),
            dup.alias("dup"),
            F.when(acc["prev"].isNull(), acc["nd"]).otherwise(nd).alias("nd"),
        )

    return F.aggregate(F.sort_array(arr), zero, merge, finish)


def _repetition_cols(ws, gs, n):
    """The five repetition signal columns from the word/2-gram run
    stats (``_sorted_run_stats`` structs) and the token count — the
    same double arithmetic the former groupBy form used, so values are
    identical."""
    n2 = n - 1
    top_frac = ws["top"] * 1.0 / n
    dup2_frac = (n2 - gs["nd"]) * 1.0 / n2
    return [
        F.round(top_frac, 4).alias("top_token_frac"),
        F.round(ws["dup"] * 1.0 / n, 4).alias("dup_token_frac"),
        F.round(dup2_frac, 4).alias("dup_2gram_frac"),
        F.round(gs["top"] * 1.0 / n2, 4).alias("top_2gram_frac"),
        ((top_frac > 0.2) | (dup2_frac > 0.4)).alias("is_repetitive"),
    ]


@register(
    "corpus_source_report",
    # The per-source/per-language "report card" every corpus-mixing
    # dashboard is built on: volume, token budget, exact-dup rate and
    # quality-gate pass rate per slice.
    oracle=f"""
    WITH d AS (
      SELECT source, lang, {DUCK_TOKENS} AS l, text FROM documents),
    per_doc AS (
      SELECT source, lang,
             len(l) AS n_tok,
             md5(array_to_string(l, ' ')) AS fp,
             {DUCK_QUALITY_GATE} AS is_quality
      FROM d)
    SELECT source, lang,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           round(avg(n_tok), 4) AS avg_doc_tokens,
           count(DISTINCT fp) AS n_unique_texts,
           count(*) - count(DISTINCT fp) AS n_exact_dups,
           round(avg(CASE WHEN is_quality THEN 1.0 ELSE 0.0 END), 4)
             AS quality_rate
    FROM per_doc GROUP BY source, lang
    """,
    tags=("text", "quality", "llm-pipeline"),
)
def corpus_source_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) corpus report card: document and token
    volumes, exact-duplicate rate (via the md5 whitespace-normalized
    fingerprint — the same key exact dedup groups on) and the
    quality-gate pass rate. This is the aggregation a mixture-planning
    step consumes (operators/sampling.py `mixture_thresholds_frame`).

    Scale shape: one scan-side pass computes per-doc stats (no UDF,
    whole-stage codegen), then a single aggregation by (source, lang)
    — low-cardinality keys, map-side partial agg; the distinct-
    fingerprint count shuffles (source, lang, fp) once. No joins."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select("source", "lang", tokens("text").alias("l")).select(
        "source",
        "lang",
        F.size("l").alias("n_tok"),
        F.md5(F.array_join(F.col("l"), " ")).alias("fp"),
        quality_gate(F.col("l")).alias("is_quality"),
    )
    return per_doc.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        F.round(F.avg("n_tok"), 4).alias("avg_doc_tokens"),
        F.countDistinct("fp").alias("n_unique_texts"),
        (F.count(F.lit(1)) - F.countDistinct("fp")).alias("n_exact_dups"),
        F.round(
            F.avg(F.when(F.col("is_quality"), 1.0).otherwise(0.0)), 4
        ).alias("quality_rate"),
    )


TFIDF_TOPK = 3  # distinctive terms kept per document


@register(
    "text_tfidf_topterms",
    # Classic TF-IDF with relative term frequency and the plain
    # ln(N/df) idf; ties (identical rounded scores — in practice
    # identical (tf, df) pairs) break lexicographically so the top-k
    # cut is total and engine-independent.
    oracle=f"""
    WITH tok AS (SELECT doc_id, {DUCK_TOKENS} AS l FROM documents),
    base AS (
      SELECT doc_id, len(l) AS n_tok, unnest(l) AS term
      FROM tok WHERE len(l) > 0),
    tf AS (
      SELECT doc_id, n_tok, term, count(*) AS c
      FROM base GROUP BY doc_id, n_tok, term),
    dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    nd AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.c, dft.df,
             round((tf.c * 1.0 / tf.n_tok)
                   * ln((SELECT n FROM nd) * 1.0 / dft.df), 6) AS tfidf
      FROM tf JOIN dft USING (term)),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
      FROM scored)
    SELECT doc_id, rank, term, c AS tf_count, df, tfidf
    FROM ranked WHERE rank <= {TFIDF_TOPK}
    """,
    tags=("text", "ir", "llm-pipeline"),
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-TFIDF_TOPK (3) distinctive terms per document by TF-IDF —
    the standard corpus-statistics operator behind keyword extraction,
    topic labeling and quality heuristics in a training-data pipeline.

    tf is the relative in-document frequency, idf the plain ln(N/df)
    over document frequency; scores round to 6 decimals before the
    rank so ordering is identical across engines, with the term string
    as the total tie-break.

    Scale shape: the per-doc token length is computed scan-side BEFORE
    the explode and rides through it (no second pass over the corpus);
    term counts shuffle once on (doc_id, term) with map-side combine;
    the df table is vocabulary-sized — orders of magnitude smaller
    than the corpus — and AQE broadcasts it into the score join when
    it fits, with a plain term-keyed hash join as the fallback; the
    top-k window shuffles by doc_id and each partition holds only a
    doc's distinct terms. The document count N is one count-star
    action (parquet footer metadata, no scan).
    """
    docs = load_table(spark, sf_dir, "documents")
    base = (
        docs.select("doc_id", tokens("text").alias("l"))
        .filter(F.size("l") > 0)
        .select(
            "doc_id",
            F.size("l").alias("n_tok"),
            F.explode("l").alias("term"),
        )
    )
    n_docs = docs.count()
    tf = base.groupBy("doc_id", "n_tok", "term").agg(
        F.count(F.lit(1)).alias("c")
    )
    # r15 (guide §2.3/§7.2 duplicated subtrees): `tf` feeds BOTH the
    # df aggregation and the score join, and Catalyst shares no
    # subplans — unmaterialized, the tokenize + explode + map-side-
    # combined tf aggregation executed twice (two parquet scans in the
    # r14 plan). Materialize it once; both consumers read the
    # checkpointed (doc_id, term)-distinct frame. The alternative
    # no-join form (df as count() over a term-partitioned window) was
    # rejected for scale: it trades the map-side-combinable groupBy
    # for a non-combinable window whose hot-stopword partition is a
    # one-task straggler on a real corpus.
    from hgn_spark.checkpoint import loose_local_checkpoint

    tf = loose_local_checkpoint(tf, eager=False)
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(dft, "term").select(
        "doc_id",
        "term",
        F.col("c").alias("tf_count"),
        "df",
        F.round(
            (F.col("c") * 1.0 / F.col("n_tok"))
            * F.log(F.lit(n_docs) * 1.0 / F.col("df")),
            6,
        ).alias("tfidf"),
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOPK)
        .select("doc_id", "rank", "term", "tf_count", "df", "tfidf")
    )
