"""Corpus-curation operators: benchmark decontamination and deterministic
stratified sampling — the two selection passes a training-data pipeline runs
after hygiene/dedup (brief: "operations a large-scale training-data pipeline
would need").

Decontamination (Brown et al. GPT-3 appendix C; Dolma §4): a training corpus
must not contain evaluation-benchmark text, detected as shared word n-grams.
The benchmark side is tiny (10^6-10^7 grams for a full eval suite) so the
plan is a broadcast semi/inner join against the corpus gram table — the
corpus side stays one map pass + one per-doc count agg; nothing n^2, no
corpus-side shuffle beyond the count.

Stratified sampling: reproducible subsampling by content-stable hash
threshold, with per-stratum rates (e.g. downsample English, keep all
low-resource languages). The keep decision is a pure projection —
md5(key) prefix compared lexicographically against a rate threshold — so
it is deterministic across runs, engines (exact DuckDB mirror), cluster
sizes, and partitionings; no RNG state, no sort, no shuffle.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from simhash_spark.operators.dedup import ngram_shingles

# ------------------------------------------------------------ decontamination


def contamination_counts(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """(id, n_overlap) for every corpus doc sharing >= 1 word-n-gram with the
    benchmark set; docs with zero overlap are absent (semi-join semantics).

    n_overlap counts the doc's DISTINCT shingles that appear anywhere in the
    benchmark (ngram_shingles dedups per doc, so a gram repeated inside one
    doc counts once). Shingles ride as xxhash64 on both sides — identical
    64-bit collision caveat as ngram_jaccard_pairs, in both directions:
    hashing happens BEFORE the per-doc array_distinct, so a within-doc
    collision merges two distinct grams and LOWERS n_overlap, while a
    cross-side corpus-vs-benchmark collision ADDS a count. Both
    ~n_grams^2/2^64, negligible vs the string-gram oracle.

    Scale: the benchmark gram set is explicitly broadcast — a full eval
    suite is megabytes of hashes, the corpus is the 100 TB side. The corpus
    gram table never shuffles; the only exchange is the per-doc count agg
    (map-side combined, <= one row per contaminated doc).
    """
    bench_grams = (
        ngram_shingles(benchmark, id_col, bench_text_col, n, hashed=True)
        .select("shingle")
        .distinct()
    )
    corpus_grams = ngram_shingles(corpus, id_col, text_col, n, hashed=True)
    return (
        corpus_grams.join(F.broadcast(bench_grams), "shingle")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 5,
    min_overlap: int = 1,
) -> DataFrame:
    """The clean corpus: drop docs with >= min_overlap benchmark n-grams.
    Anti-join on the contaminated id list; all corpus columns survive."""
    dirty = (
        contamination_counts(corpus, benchmark, id_col, text_col, bench_text_col, n)
        .where(F.col("n_overlap") >= min_overlap)
        .select(F.col("id").alias(id_col))
    )
    return corpus.join(dirty, id_col, "left_anti")


def contamination_oracle_sql(
    bench_pred: str, n: int = 5, id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """DuckDB mirror of contamination_counts over the `documents` view, with
    ``bench_pred`` selecting the benchmark rows (e.g. "doc_id % 50 = 7") and
    the corpus = NOT bench_pred. String grams instead of xxhash64 (DuckDB has
    no xxhash64); equal up to 64-bit collisions, i.e. bit-equal in practice.
    Mirrors ngram_shingles' frozen short-doc rule: 1..n-1 tokens emit the
    full join, empty text emits nothing."""
    toks = f"string_split_regex(trim(lower({text_col})), '\\s+')"
    grams = (
        f"CASE WHEN len({toks}) >= {n} THEN "
        f"list_transform(range(1, len({toks}) - {n - 2}), i -> "
        f"array_to_string(({toks})[i:i+{n - 1}], ' ')) "
        f"WHEN length(trim({text_col})) > 0 THEN [array_to_string({toks}, ' ')] "
        f"ELSE CAST([] AS VARCHAR[]) END"
    )
    return f"""
        WITH grams AS (
            SELECT {id_col} AS id, unnest(list_distinct({grams})) AS shingle,
                   ({bench_pred}) AS is_bench
            FROM documents
        ),
        bench AS (SELECT DISTINCT shingle FROM grams WHERE is_bench)
        SELECT g.id AS id, COUNT(*) AS n_overlap
        FROM grams g JOIN bench b USING (shingle)
        WHERE NOT g.is_bench
        GROUP BY g.id
    """


def contaminated_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """WHICH token spans of each corpus doc overlap the benchmark — the
    span-excision output a real curation run uses (Lee et al. '22 §4.1 /
    Dolma decontamination remove the overlapping SPAN, not the whole doc;
    contamination_counts only says how much, this says where).

    Returns (id, start_tok, end_tok, n_grams): 1-based inclusive token
    ranges, one row per maximal contaminated span. FROZEN RULE: a gram
    starting at token p covers tokens [p, p+n-1] (clamped to the doc's token
    count for the short-doc full-join gram); two contaminated grams merge
    into one span iff their covered ranges overlap or touch (next start <=
    prev start + n); n_grams counts the contaminated gram STARTS inside the
    span. Within-doc duplicate grams are counted at every contaminated
    position (no per-doc distinct — each occurrence is a span to excise).

    Scale shape: same as contamination_counts — benchmark grams broadcast,
    the corpus side is one map pass (positional grams ride as xxhash64);
    only the ~contaminated (id, pos) rows reach the span-merge exchange, one
    hash exchange on id (the island window's sum + the (id, island) groupBy
    both cluster by id, so the groupBy reuses the window's partitioning).
    """
    from simhash_spark.operators.dedup import ngram_array_col

    bench_grams = (
        ngram_shingles(benchmark, id_col, bench_text_col, n, hashed=True)
        .select("shingle")
        .distinct()
    )
    grams = F.transform(ngram_array_col(text_col, n), lambda g: F.xxhash64(g))
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    pos_grams = corpus.select(
        F.col(id_col).alias("id"),
        F.size(toks).alias("nt"),
        F.posexplode(grams).alias("pos0", "shingle"),
    )
    cont = pos_grams.join(F.broadcast(bench_grams), "shingle").select(
        "id", "nt", (F.col("pos0") + 1).alias("pos")
    )
    w = Window.partitionBy("id").orderBy("pos")
    brk = F.when(F.col("pos") > F.lag("pos").over(w) + n, F.lit(1)).otherwise(F.lit(0))
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    islands = cont.withColumn("_isl", F.sum(brk).over(wcum))
    return (
        islands.groupBy("id", "_isl")
        .agg(
            F.min("pos").alias("start_tok"),
            F.least(F.max("pos") + F.lit(n - 1), F.min("nt")).alias("end_tok"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .select("id", "start_tok", "end_tok", "n_grams")
    )


def contaminated_spans_oracle_sql(
    bench_pred: str, n: int = 5, id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """DuckDB mirror of contaminated_spans over the `documents` view —
    positional string grams (vs Spark's xxhash64; equal up to 64-bit
    collisions), identical island/merge/clamp rules as the FROZEN RULE."""
    toks = f"string_split_regex(trim(lower({text_col})), '\\s+')"
    grams = (
        f"CASE WHEN len({toks}) >= {n} THEN "
        f"list_transform(range(1, len({toks}) - {n - 2}), i -> "
        f"array_to_string(({toks})[i:i+{n - 1}], ' ')) "
        f"WHEN length(trim({text_col})) > 0 THEN [array_to_string({toks}, ' ')] "
        f"ELSE CAST([] AS VARCHAR[]) END"
    )
    return f"""
        WITH base AS (
            SELECT {id_col} AS id, len({toks}) AS nt, {grams} AS grams,
                   ({bench_pred}) AS is_bench
            FROM documents
        ),
        bench AS (SELECT DISTINCT unnest(grams) AS gram FROM base WHERE is_bench),
        pos_grams AS (
            SELECT id, nt,
                   unnest(list_transform(range(1, len(grams) + 1),
                                         i -> struct_pack(p := i, g := grams[i]))) AS u
            FROM base WHERE NOT is_bench
        ),
        cont AS (
            SELECT pg.id, pg.nt, pg.u.p AS pos
            FROM pos_grams pg JOIN bench b ON pg.u.g = b.gram
        ),
        flagged AS (
            SELECT id, nt, pos,
                   CASE WHEN pos > lag(pos) OVER (PARTITION BY id ORDER BY pos) + {n}
                        THEN 1 ELSE 0 END AS brk
            FROM cont
        ),
        islands AS (
            SELECT id, nt, pos,
                   SUM(brk) OVER (PARTITION BY id ORDER BY pos
                                  ROWS UNBOUNDED PRECEDING) AS isl
            FROM flagged
        )
        SELECT id, MIN(pos) AS start_tok,
               LEAST(MAX(pos) + {n - 1}, MIN(nt)) AS end_tok,
               COUNT(*) AS n_grams
        FROM islands
        GROUP BY id, isl
    """


def excise_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """The span-excision output itself: every corpus doc with its
    contaminated token ranges REMOVED (Lee'22 §4.1 removes the overlapping
    span and keeps the rest of the doc — dropping whole docs over one quoted
    benchmark sentence wastes data). Returns (id, clean_text,
    n_tokens_removed) for EVERY corpus doc (clean docs pass through with 0).

    FROZEN RULE: clean_text is the space-join of the doc's frozen-tokenized
    tokens (lowercase, trim, whitespace split — the same normalization every
    gram operator applies) whose 1-based position falls in no
    contaminated_spans range. Deterministic and engine-portable; the oracle
    mirrors it exactly.

    Consequence callers must know (also flagged in jobs docs): EVERY doc —
    including fully clean ones — is rewritten to that lowercased,
    whitespace-collapsed token join; original casing/punctuation/formatting
    do NOT survive this operator, unlike Lee'22/Dolma's raw-text span
    removal. If original-text fidelity matters, slice the raw text by
    character offsets instead (derive offsets from contaminated_spans'
    token ranges) and keep this frozen form for the oracle-checked artifact.

    Scale shape: contaminated_spans' plan (benchmark broadcast, one id
    exchange over contaminated rows only) + one broadcast-or-shuffle left
    join of the per-doc span list back to the corpus — the span table has
    <= one row per contaminated doc, so the join's build side is the small
    contaminated slice, never the corpus. The token filter is a per-row
    nested HOF (filter x exists) — interpreted, but its lambdas touch only
    their element/index args and the joined span arrays (plain attribute
    reads, not re-evaluated expression chains), and per-doc span counts are
    small.
    """
    spans = contaminated_spans(corpus, benchmark, id_col, text_col, bench_text_col, n)
    per_doc = spans.groupBy("id").agg(
        F.collect_list(F.struct("start_tok", "end_tok")).alias("_spans")
    )
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    joined = corpus.select(F.col(id_col).alias("id"), toks.alias("_toks")).join(
        per_doc, "id", "left"
    )
    spans_arr = F.coalesce(
        F.col("_spans"),
        F.array().cast("array<struct<start_tok:int,end_tok:int>>"),
    )
    kept = F.filter(
        F.col("_toks"),
        lambda t, i: ~F.exists(
            spans_arr,
            lambda sp: (sp["start_tok"] <= i + 1) & (sp["end_tok"] >= i + 1),
        ),
    )
    return joined.select(
        "id",
        F.array_join(kept, " ").alias("clean_text"),
        (F.size("_toks") - F.size(kept)).cast("long").alias("n_tokens_removed"),
    )


def excise_spans_raw(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Raw-text-fidelity span excision (the r4 ADVICE alternative made a
    first-class operator): remove contaminated token spans from the
    ORIGINAL text by character offsets — the Lee'22 §4.1 / Dolma behavior —
    preserving kept regions' casing/punctuation/whitespace byte-for-byte.
    ``excise_spans`` remains the frozen, SQL-oracle-portable artifact; use
    this variant when the shipped corpus must keep its original formatting.

    FROZEN RULE: the k-th frozen token (1-based, whitespace split of the
    trimmed text) is the k-th ``\\S+`` run of the raw text. A merged span
    (s, e) excises raw chars [start(s), end(e)], extended through the
    following whitespace run when a token follows (so mid-text excisions
    leave single spacing), else through the preceding run (so trailing
    excisions leave no dangling gap). The doc's outer whitespace is never
    touched; a fully-contaminated doc keeps exactly its outer whitespace.
    ``n_tokens_removed`` equals excise_spans' count (same span source).

    Scale shape: contaminated_spans' audited plan -> per-doc span lists
    (contaminated docs only) -> ONLY the contaminated slice runs through
    one Arrow-batched pandas iterator (regex finditer for offsets; per-row
    python bounded by the contamination mass, never the corpus); clean
    docs pass through untouched via a left-anti join on the span table.
    """
    import re

    import pandas as pd
    from pyspark.sql import types as T

    spans = contaminated_spans(corpus, benchmark, id_col, text_col, bench_text_col, n)
    per_doc = spans.groupBy("id").agg(
        F.collect_list(F.struct("start_tok", "end_tok")).alias("_spans")
    )
    id_type = corpus.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("id", id_type),
            T.StructField("clean_text", T.StringType()),
            T.StructField("n_tokens_removed", T.LongType()),
        ]
    )

    def excise(batches):
        tok_re = re.compile(r"\S+")
        for pdf in batches:
            out_ids, out_texts, out_counts = [], [], []
            for rid, text, sps in zip(pdf["id"], pdf["_t"], pdf["_spans"]):
                text = text or ""
                toks = list(tok_re.finditer(text))
                nt = len(toks)
                removed: set[int] = set()
                cuts = []
                for sp in sorted((int(x["start_tok"]), int(x["end_tok"])) for x in sps):
                    s, e = max(1, sp[0]), min(nt, sp[1])
                    if s > e:
                        continue
                    removed.update(range(s, e + 1))
                    start, end = toks[s - 1].start(), toks[e - 1].end()
                    if e < nt:
                        end = toks[e].start()
                    elif s > 1:
                        start = toks[s - 2].end()
                    cuts.append((start, end))
                pieces, pos = [], 0
                for start, end in sorted(cuts):
                    if start > pos:
                        pieces.append(text[pos:start])
                    pos = max(pos, end)
                pieces.append(text[pos:])
                out_ids.append(rid)
                out_texts.append("".join(pieces))
                out_counts.append(len(removed))
            yield pd.DataFrame(
                {"id": out_ids, "clean_text": out_texts, "n_tokens_removed": out_counts}
            )

    dirty = (
        corpus.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
        .join(per_doc, "id")
        .mapInPandas(excise, schema=out_schema)
    )
    clean = (
        corpus.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
        .join(per_doc.select("id"), "id", "left_anti")
        .select(
            "id",
            F.coalesce(F.col("_t"), F.lit("")).alias("clean_text"),
            F.lit(0).cast("long").alias("n_tokens_removed"),
        )
    )
    return dirty.unionByName(clean)


def excise_spans_oracle_sql(
    bench_pred: str, n: int = 5, id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """DuckDB mirror of excise_spans: contaminated_spans' oracle as a CTE,
    spans grouped per doc, same positional token filter."""
    toks = f"string_split_regex(trim(lower({text_col})), '\\s+')"
    spans_cte = contaminated_spans_oracle_sql(bench_pred, n, id_col, text_col)
    return f"""
        WITH spans AS ({spans_cte}),
        per_doc AS (
            SELECT id, list(struct_pack(s := start_tok, e := end_tok)) AS sp
            FROM spans GROUP BY id
        ),
        corpus AS (
            SELECT {id_col} AS id, {toks} AS toks FROM documents
            WHERE NOT ({bench_pred})
        )
        SELECT c.id,
               -- COALESCE: DuckDB's array_to_string([]) is NULL, Spark's
               -- array_join([]) is '' — a fully-excised doc must agree
               COALESCE(array_to_string(
                   list_filter(c.toks, (t, i) ->
                       len(list_filter(COALESCE(p.sp, []),
                                       x -> x.s <= i AND x.e >= i)) = 0),
                   ' '), '') AS clean_text,
               CAST(len(c.toks) - len(
                   list_filter(c.toks, (t, i) ->
                       len(list_filter(COALESCE(p.sp, []),
                                       x -> x.s <= i AND x.e >= i)) = 0)
               ) AS BIGINT) AS n_tokens_removed
        FROM corpus c LEFT JOIN per_doc p USING (id)
    """


def dedup_repeated_blocks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Corpus-wide repeated-span removal — C4's §2.2 rule ("we discard all
    but one of any three-sentence span occurring more than once") re-frozen
    on k-token blocks, since this corpus has no sentence/line structure.
    Complements the family: exact_dedup drops whole duplicate DOCS,
    excise_spans cuts text shared with a BENCHMARK; this removes text
    repeated WITHIN the corpus itself (boilerplate headers, license blocks,
    templated navigation) at sub-document granularity.

    FROZEN RULE: tokens = whitespace split of trim(lower(text)) (the
    engine's frozen tokenization; empty/NULL text -> no tokens); blocks =
    consecutive non-overlapping k-token runs in order (the final partial
    block counts); an occurrence of a block is KEPT iff it is the globally
    FIRST occurrence of its exact text, ordered by (doc_id, block_id) —
    all later occurrences (across docs AND within a doc) are removed.
    Like excise_spans, clean_text is the space-join of kept blocks in
    block order (lowercased, whitespace-collapsed — the frozen artifact
    form; see excise_spans_raw for the fidelity-preserving alternative
    pattern). Exact duplicate docs keep only their first copy's text.

    Output: (id, clean_text, n_blocks, n_blocks_removed), one row per
    input doc; docs with no tokens pass through as ('', 0, 0).

    Scale shape: corpus-wide block counting inherently shuffles one unit
    per BLOCK (not per token): the posexplode is narrow, and the
    (id, block_id) groupBy's map-side partial collect_list assembles each
    block fully locally (a doc's tokens never span partitions), so
    exchange #1 carries ~n_tokens/k rows. The first-occurrence decision is
    ONE row_number window keyed on the block text (bounded at k tokens —
    never a document — per row), then the per-doc rebuild groupBy and a
    final left join back to the id spine. Nothing n^2; at 10^12-block
    scale the window key would ride as xxhash64(bt) with a collision
    verify — kept as the exact string here so the DuckDB mirror is
    bit-equal by construction.
    """
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    base = df.select(
        F.col(id_col).alias("id"),
        F.when(F.length(F.trim(F.col(text_col))) > 0, toks)
        .otherwise(F.array().cast("array<string>"))
        .alias("_t"),
    )
    tok = base.select("id", F.posexplode("_t").alias("pos", "tok"))
    blocks = tok.groupBy("id", F.expr(f"pos div {k}").alias("block_id")).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("bt")
    )
    w = Window.partitionBy("bt").orderBy("id", "block_id")
    ranked = blocks.withColumn("_rn", F.row_number().over(w))
    rebuilt = ranked.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.count(F.when(F.col("_rn") > 1, F.lit(1))).alias("n_blocks_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_rn") == 1, F.struct("block_id", "bt"))
                    )
                ),
                lambda s: s["bt"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(rebuilt, "id", "left")
        .select(
            "id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_blocks", F.lit(0).cast("long")).alias("n_blocks"),
            F.coalesce("n_blocks_removed", F.lit(0).cast("long")).alias(
                "n_blocks_removed"
            ),
        )
    )


def repeated_blocks_oracle_sql(
    k: int = 8, id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """DuckDB mirror of dedup_repeated_blocks over the `documents` view —
    identical frozen tokenization/block/first-occurrence rules; aggregates
    skip NULLs in both engines, so the CASE-gated string_agg matches
    collect_list of a NULL-bearing when()."""
    toks = f"string_split_regex(trim(lower({text_col})), '\\s+')"
    return f"""
        WITH base AS (
            SELECT {id_col} AS id,
                   CASE WHEN length(trim({text_col})) > 0 THEN {toks}
                        ELSE CAST([] AS VARCHAR[]) END AS toks
            FROM documents
        ),
        tok AS (
            SELECT id,
                   unnest(list_transform(range(1, len(toks) + 1),
                                         i -> struct_pack(p := i, t := toks[i]))) AS u
            FROM base
        ),
        blocks AS (
            SELECT id, (u.p - 1) // {k} AS block_id,
                   string_agg(u.t, ' ' ORDER BY u.p) AS bt
            FROM tok GROUP BY id, (u.p - 1) // {k}
        ),
        ranked AS (
            SELECT id, block_id, bt,
                   row_number() OVER (PARTITION BY bt ORDER BY id, block_id) AS rn
            FROM blocks
        ),
        rebuilt AS (
            SELECT id,
                   COUNT(*) AS n_blocks,
                   COUNT(CASE WHEN rn > 1 THEN 1 END) AS n_blocks_removed,
                   COALESCE(string_agg(CASE WHEN rn = 1 THEN bt END,
                                       ' ' ORDER BY block_id), '') AS clean_text
            FROM ranked GROUP BY id
        )
        SELECT d.{id_col} AS id,
               COALESCE(r.clean_text, '') AS clean_text,
               COALESCE(r.n_blocks, CAST(0 AS BIGINT)) AS n_blocks,
               COALESCE(r.n_blocks_removed, CAST(0 AS BIGINT)) AS n_blocks_removed
        FROM documents d LEFT JOIN rebuilt r ON r.id = d.{id_col}
    """


# ------------------------------------------------ Bloom-filter decontamination


def bloom_contamination_counts(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 5,
    bits_per_key: int = 16,
    k_probes: int = 8,
    max_bench_grams: int = 5_000_000,
) -> DataFrame:
    """Benchmark decontamination as a Bloom-filter membership pass — the
    Dolma-deduper execution shape (Soldaini'24 §4.2) next to the exact
    broadcast-join trio above: (id, n_grams, n_maybe_overlap) for EVERY
    corpus doc, where n_maybe_overlap counts the doc's distinct word-n-gram
    FNV hashes the filter reports as benchmark members.

    Semantics vs :func:`contamination_counts` (the exact path): one-sided —
    never a false negative (every truly shared gram counts), false positives
    at the frozen (1 - e**(-k/bits_per_key))**k rate (~5.6e-4/gram at the
    defaults), so per doc ``n_maybe_overlap >= n_overlap`` and zero-overlap
    docs are PRESENT here with n_maybe_overlap = 0 (no semi-join drop).

    Scale shape — the reason this variant exists: the exact plan explodes
    the corpus into gram rows and runs a per-doc count exchange; this one is
    a ZERO-exchange projection — gram generation, FNV hashing, probing and
    the per-doc count all happen inside one vectorized Arrow batch
    (functions/bloom.py), nothing corpus-sized ever shuffles or explodes.
    The reference side compresses to bits_per_key bits/gram and is built
    ONCE from a bounded collect (``max_bench_grams`` guard — an eval suite
    is 10^6-10^7 grams; a bigger "benchmark" is a misuse, raise loudly).
    All frozen rules (grams, FNV, sizing, probes) live in
    functions/bloom.py and are mirrored per-row by tests/gen_expected.py.
    """
    from simhash_spark.functions.bloom import (
        bloom_build,
        make_bloom_overlap_udf,
        make_gram_fnv_hashes_udf,
    )
    from simhash_spark.spec import i64_to_u64

    gh = make_gram_fnv_hashes_udf(n)
    rows = (
        benchmark.select(F.explode(gh(F.col(bench_text_col))).alias("h"))
        .distinct()
        .limit(max_bench_grams + 1)
        .collect()
    )
    if len(rows) > max_bench_grams:
        raise ValueError(
            f"benchmark side exceeds max_bench_grams={max_bench_grams} distinct "
            "n-grams — a Bloom reference set this large is almost certainly a "
            "swapped corpus/benchmark argument; raise the cap explicitly if not"
        )
    hashes = i64_to_u64(np.array([r.h for r in rows], dtype=np.int64))
    words, m_bits = bloom_build(hashes, bits_per_key, k_probes)
    ov = make_bloom_overlap_udf(words, m_bits, k_probes, n)
    return corpus.select(
        F.col(id_col).alias("id"), ov(F.col(text_col)).alias("_b")
    ).select(
        "id",
        F.col("_b.n_grams").alias("n_grams"),
        F.col("_b.n_maybe_overlap").alias("n_maybe_overlap"),
    )


# ------------------------------------------------------- stratified sampling


def cross_group_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str,
    group_col: str,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Near-dup pairs whose members come from DIFFERENT groups — the
    cross-shard / cross-source leakage report (e.g. an eval split sharing a
    near-duplicate with a training shard, or the same page crawled under two
    domains). Input ``pairs`` is any verified pair set (a, b); ``docs`` maps
    id -> group.

    Returns (a, b, group_a, group_b). Plan: the pair table is the small side
    by construction (pairs are duplicate-bounded, docs are corpus-bounded),
    so at scale this is two shuffles of the PAIR table against the
    id-hashed doc projection — the corpus side ships only (id, group). At
    bench scale AQE broadcasts the pair side and the corpus never shuffles.
    """
    g = docs.select(
        F.col(id_col).cast("string").alias("_gid"),
        F.col(group_col).alias("_grp"),
    )
    return (
        pairs.select(F.col(a_col).cast("string").alias("a"), F.col(b_col).cast("string").alias("b"))
        .join(g.withColumnRenamed("_grp", "group_a"), F.col("a") == F.col("_gid"))
        .drop("_gid")
        .join(g.withColumnRenamed("_grp", "group_b"), F.col("b") == F.col("_gid"))
        .drop("_gid")
        .where(F.col("group_a") != F.col("group_b"))
        .select("a", "b", "group_a", "group_b")
    )


def dedup_report(
    labels: DataFrame,
    docs: DataFrame,
    id_col: str,
    group_col: str,
) -> DataFrame:
    """Per-group duplication report — the monitoring table a production
    dedup run publishes (Dolma/RefinedWeb report exactly this per source):
    how many docs each group contributed, how many sit in a multi-member
    near-dup cluster, how many survive the keep rule (cluster representative
    = min id, singletons kept), and the duplicate fraction.

    ``labels`` is the (id, cluster_id) output of a clustering query where
    EVERY doc appears (singletons carry cluster_id = own id). Returns
    (group, n_docs, n_dup_docs, n_kept, dup_ratio) with counts as BIGINT and
    dup_ratio the single division n_dup_docs/n_docs (bit-equal across
    engines per the oracle contract).

    Plan: one exchange on cluster_id (window count — same one-exchange
    pattern as candidates.py), then one map-combined agg on the group key;
    both keys are low-cardinality relative to the corpus, nothing quadratic.
    """
    lab = labels.select(
        F.col(id_col).cast("string").alias("_id"),
        F.col("cluster_id").cast("string").alias("_cid"),
    )
    sized = lab.withColumn(
        "_csize", F.count(F.lit(1)).over(Window.partitionBy("_cid"))
    )
    g = docs.select(
        F.col(id_col).cast("string").alias("_id"),
        F.col(group_col).alias("group"),
    )
    return (
        sized.join(g, "_id")
        .groupBy("group")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("_csize") > 1, 1).otherwise(0)).alias("n_dup_docs"),
            F.sum(F.when(F.col("_id") == F.col("_cid"), 1).otherwise(0)).alias("n_kept"),
        )
        .select(
            "group",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_dup_docs").cast("long").alias("n_dup_docs"),
            F.col("n_kept").cast("long").alias("n_kept"),
            (F.col("n_dup_docs").cast("double") / F.col("n_docs").cast("double")).alias(
                "dup_ratio"
            ),
        )
    )


def _sql_lit(v) -> str:
    """Render a stratum value as a SQL literal for the oracle mirrors:
    strings get single quotes with embedded quotes doubled (so a stratum like
    "it's" can't break or diverge the generated SQL); ints/floats render
    bare, matching the Spark side's typed equality."""
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    return str(v)


def _rate_threshold(rate: float) -> str:
    """rate in [0, 1] -> 4-hex-digit lowercase threshold string. Granularity
    1/65536; rate >= 1 keeps everything ('zzzz' sorts after any hex digit)."""
    if rate >= 1.0:
        return "zzzz"
    return format(max(0, int(rate * 65536)), "04x")


def stratified_sample(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    rates: dict[str, float],
    default_rate: float = 1.0,
) -> DataFrame:
    """Keep each row with its stratum's probability, deterministically.

    ``rates`` maps stratum values (e.g. languages) to keep-rates; strata not
    listed use ``default_rate``. Pure projection + filter: pushes to the
    scan, no shuffle, no RNG — rerunning at any parallelism selects the
    exact same rows, which makes downstream dedup/bench comparisons
    reproducible and lets a resumed 100 TB run re-derive its own sample.
    """
    expr = F.lit(_rate_threshold(default_rate))
    for stratum, rate in rates.items():
        expr = F.when(F.col(stratum_col) == stratum, F.lit(_rate_threshold(rate))).otherwise(
            expr
        )
    return df.where(F.substring(F.md5(F.col(key_col).cast("string")), 1, 4) < expr)


def stratified_sample_oracle_sql(
    key_col: str, stratum_col: str, rates: dict[str, float], default_rate: float = 1.0
) -> str:
    """DuckDB mirror of stratified_sample's WHERE clause (md5 hex is
    lowercase in both engines; BIGINT-to-VARCHAR casts agree on decimal
    form)."""
    cases = " ".join(
        f"WHEN {stratum_col} = {_sql_lit(s)} THEN '{_rate_threshold(r)}'"
        for s, r in rates.items()
    )
    thresh = f"CASE {cases} ELSE '{_rate_threshold(default_rate)}' END"
    return f"substr(md5(CAST({key_col} AS VARCHAR)), 1, 4) < {thresh}"


# --------------------------------------------------- leakage-safe splitting


def assign_splits(
    clusters: DataFrame,
    fractions: dict[str, float] | None = None,
    rest_name: str = "test",
    key_col: str = "cluster_id",
) -> DataFrame:
    """Leakage-safe train/val/test assignment: split by near-dup CLUSTER, so
    two near-duplicate documents can never land on opposite sides of a
    train/eval boundary (the decontamination failure mode, but created at
    split time instead of crawl time — cf. Lee'21 "Deduplicating Training
    Data Makes Language Models Better" §6 on train/test overlap).

    FROZEN RULE: the first 4 hex chars of ``md5(str(cluster_id))`` are
    compared against the cumulative fraction thresholds (the same
    content-stable device as ``stratified_sample`` — deterministic across
    runs, engines, and partitionings); every member of a cluster shares the
    cluster_id, hence the split. Default fractions 98/1/1.

    Input: ``(doc_id, cluster_id)`` labels (singletons labeled by
    themselves, as every cluster operator here emits). Output: the same
    rows plus a ``split`` column. Pure zero-shuffle projection over the
    labels table; the expected split SIZES are fraction-proportional in the
    number of CLUSTERS (md5 uniformity), not documents — a mega-cluster
    moves all its mass into one split, which is exactly the point.
    """
    if fractions is None:
        fractions = {"train": 0.98, "val": 0.01}
    if not fractions or sum(fractions.values()) > 1.0 + 1e-9:
        raise ValueError(f"split fractions must be nonempty and sum <= 1: {fractions}")
    h = F.substring(F.md5(F.col(key_col).cast("string")), 1, 4)
    expr = None
    cum = 0.0
    # thresholds ascend, so the FIRST matching when() is the owning split
    for name, frac in fractions.items():
        cum += frac
        cond = h < F.lit(_rate_threshold(cum))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    return clusters.withColumn("split", expr.otherwise(F.lit(rest_name)))


def assign_splits_oracle_sql(
    fractions: dict[str, float] | None = None,
    rest_name: str = "test",
    key_col: str = "cluster_id",
) -> str:
    """DuckDB mirror of assign_splits' CASE expression (md5 hex is lowercase
    in both engines; thresholds from the same _rate_threshold)."""
    if fractions is None:
        fractions = {"train": 0.98, "val": 0.01}
    cum, whens = 0.0, []
    for name, frac in fractions.items():
        cum += frac
        whens.append(
            f"WHEN substr(md5(CAST({key_col} AS VARCHAR)), 1, 4) < "
            f"'{_rate_threshold(cum)}' THEN {_sql_lit(name)}"
        )
    return f"CASE {' '.join(whens)} ELSE {_sql_lit(rest_name)} END"


# ------------------------------------------------------ token-budget sampling


def budget_sample(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    cost_col: str,
    budgets: dict[str, int],
    default_budget: int | None = None,
    max_strata: int = 4096,
) -> DataFrame:
    """Fill each stratum's budget ("1B tokens of English, 200M of German"):
    within a stratum, rows are taken in md5(key) hash order until the
    cumulative ``cost_col`` would exceed the budget. FROZEN RULE: a row is
    kept iff its inclusive cumulative cost along (md5(str(key)), key)
    ascending is <= the stratum's budget; budget None = unlimited. Costs
    must be >= 0 and keys unique. Deterministic across runs, engines, and
    parallelisms — the same property as stratified_sample, but hitting an
    absolute size target instead of a rate.

    Scale plan — the naive formulation (SUM(cost) OVER (PARTITION BY stratum
    ORDER BY hash)) sorts an ENTIRE stratum in one task, the exact skew
    hazard the CC docstring rejects. Instead:

    1. bucket = first 2 hex chars of md5(key) (256 hash buckets/stratum);
       per-(stratum, bucket) cost sums via one map-combined agg — the only
       corpus-wide pass, shuffling ~256 rows per stratum;
    2. driver computes, per stratum, the cutoff bucket (first bucket that
       does not fit the remaining budget in hash order) — bounded collect,
       |strata| x 256 rows, same regime as ivf_fit's sample;
    3. buckets strictly before the cutoff are kept WHOLE (no sort at all);
       only the single cutoff bucket — 1/256 of the stratum — pays an exact
       cumulative-sum window for the boundary. Buckets after the cutoff are
       dropped whole (the global cumsum already exceeds the budget there).

    Equivalence to the frozen rule is exact because hash order sorts by
    (bucket, rest-of-hash, key) and the cumulative sum is monotone.

    Assumptions made explicit (and enforced):
    - BOUNDED STRATA: step 2's collect and the broadcast cuts table are
      |strata| x 256 rows, so the stratum column must be low-cardinality
      (languages, source tiers — not per-domain ids). The collect is
      limit-probed and raises past ``max_strata`` distinct strata instead of
      bloating the driver; route high-cardinality budget columns through a
      coarser stratum first.
    - NULL strata form one stratum (matching SQL's PARTITION BY, which
      groups NULLs together) and take ``default_budget`` — the cuts join is
      null-safe, so NULL-stratum rows follow the same FROZEN RULE as any
      unlisted stratum (mirrored by the oracle's CASE ... ELSE arm).
    - EAGER: the cutoff computation runs Spark jobs at call time (like
      ivf_fit's sample), not lazily at action time.
    """
    h = F.md5(F.col(key_col).cast("string"))
    bucket = F.substring(h, 1, 2)
    wdf = df.withColumn("_h", h).withColumn("_bk", bucket)
    sums_df = wdf.groupBy(F.col(stratum_col).alias("_st"), F.col("_bk")).agg(
        F.sum(F.col(cost_col).cast("long")).alias("_s")
    )
    # limit-probe instead of a bare collect: a runaway-cardinality stratum
    # column fails loudly after max_strata*256+1 rows, never OOMs the driver
    sums = sums_df.limit(max_strata * 256 + 1).collect()
    if len(sums) > max_strata * 256:
        raise ValueError(
            f"budget_sample: stratum column {stratum_col!r} exceeds "
            f"max_strata={max_strata} distinct values (driver cutoff table "
            "would be unbounded); aggregate to a coarser stratum or raise "
            "max_strata deliberately"
        )
    per: dict[str | None, list[tuple[str, int]]] = {}
    for r in sums:
        per.setdefault(r["_st"], []).append((r["_bk"], r["_s"] or 0))
    cut_rows = []
    for st, lst in per.items():
        budget = budgets.get(st, default_budget)
        if budget is None:
            cut_rows.append((st, "zz", 0))  # 'zz' sorts after every hex bucket
            continue
        running = 0
        cutoff, remaining = None, 0
        for bk, s in sorted(lst):
            if running + s <= budget:
                running += s
            else:
                cutoff, remaining = bk, budget - running
                break
        if cutoff is None:
            cut_rows.append((st, "zz", 0))
        else:
            cut_rows.append((st, cutoff, remaining))
    spark = df.sparkSession
    # cuts stratum column typed from the input schema (an int bucket-id
    # stratum must not silently string-cast the join), named _st to keep the
    # null-safe join condition unambiguous
    from pyspark.sql import types as T

    cuts_schema = T.StructType(
        [
            T.StructField("_st", df.schema[stratum_col].dataType, True),
            T.StructField("_cut", T.StringType(), False),
            T.StructField("_rem", T.LongType(), False),
        ]
    )
    cuts = F.broadcast(spark.createDataFrame(cut_rows, cuts_schema))
    # eqNullSafe: plain equality never matches the NULL-stratum cuts row
    # (SQL NULL != NULL), which silently DROPPED all NULL-stratum rows —
    # the FROZEN RULE and the oracle's CASE...ELSE keep them under
    # default_budget
    joined = wdf.join(cuts, wdf[stratum_col].eqNullSafe(cuts["_st"]), "left").drop("_st")
    keep_full = joined.where(F.col("_bk") < F.col("_cut"))
    w = (
        Window.partitionBy(stratum_col)
        .orderBy("_h", key_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    kept_cut = (
        joined.where(F.col("_bk") == F.col("_cut"))
        .withColumn("_cum", F.sum(F.col(cost_col).cast("long")).over(w))
        .where(F.col("_cum") <= F.col("_rem"))
        .drop("_cum")
    )
    return keep_full.unionByName(kept_cut).drop("_h", "_bk", "_cut", "_rem")


def budget_sample_oracle_sql(
    key_col: str,
    stratum_col: str,
    cost_col: str,
    budgets: dict[str, int],
    default_budget: int | None = None,
    table: str = "documents",
    select_cols: str = "*",
) -> str:
    """DuckDB mirror of budget_sample's FROZEN RULE, as the naive global
    cumulative window (fine at oracle scale; the engine's bucketed plan is
    provably equivalent — see budget_sample)."""
    cases = " ".join(
        f"WHEN {stratum_col} = {_sql_lit(s)} THEN {b}" for s, b in budgets.items()
    )
    dflt = "NULL" if default_budget is None else str(default_budget)
    budget = f"CASE {cases} ELSE {dflt} END"
    return f"""
        SELECT {select_cols} FROM (
            SELECT *,
                   SUM(CAST({cost_col} AS BIGINT)) OVER (
                       PARTITION BY {stratum_col}
                       ORDER BY md5(CAST({key_col} AS VARCHAR)), {key_col}
                       ROWS UNBOUNDED PRECEDING
                   ) AS _cum,
                   {budget} AS _budget
            FROM {table}
        )
        WHERE _budget IS NULL OR _cum <= _budget
    """


# ------------------------------------------------------- sequence packing


def token_pack_plan(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    ctx_len: int = 2048,
    shard_chars: int = 1,
) -> DataFrame:
    """Deterministic concat-then-chunk sequence-packing PLAN: which training
    pack(s) each document's tokens land in, for a context length of
    ``ctx_len`` — the batch-assembly step between a curated corpus and a
    training run (the packing used by T5 [Raffel'20 §2.2] and GPT-3
    [Brown'20 §2.1]: documents are concatenated in a fixed order and the
    stream is split into ctx_len-token blocks, so no padding is wasted and a
    document may straddle pack boundaries).

    FROZEN RULE: tokens are the corpus token rule (lowercased whitespace
    splits of the trimmed text); docs with zero tokens are excluded (nothing
    to pack). Each doc is assigned a shard = the value of the first
    ``shard_chars`` hex chars of md5(str(key)) (16**shard_chars shards,
    uniform); within a shard the concatenation order is (md5(str(key)), key)
    — the same deterministic no-RNG ordering budget_sample uses, so the plan
    is reproducible at any parallelism and doubles as a shuffle of the
    corpus (neighbouring docs land in different packs). Offsets are
    0-based token positions in the shard's concatenated stream:

        pack_first = floor(start_offset / ctx_len)
        pack_last  = floor((start_offset + n_tokens - 1) / ctx_len)

    Returns (key, shard, n_tokens, start_offset, pack_first, pack_last),
    all counts BIGINT. A writer materializes pack p of shard s by taking
    rows with pack_first <= p <= pack_last ordered by start_offset and
    slicing the boundary docs — driver-free, one partition per shard.

    Plan shape for 100 TB: one exchange keyed shard + a sort-based window
    cumsum within each shard (spills, never driver-side). Shards are the
    parallelism unit: 16**shard_chars independent streams, so shard_chars=3
    gives 4096 reducers each scanning corpus/4096 rows. The cumulative sum
    is the only sequential dependency and it is per-shard by construction —
    exactly the two-level structure that keeps packing embarrassingly
    parallel while staying bit-reproducible across cluster sizes.
    """
    from simhash_spark.operators.textops import _tokens_col

    n_shards = 16**shard_chars
    h = F.md5(F.col(key_col).cast("string"))
    toks = _tokens_col(F.col(text_col))
    base = df.select(
        F.col(key_col).alias("key"),
        F.substring(h, 1, shard_chars).alias("_shard_hex"),
        h.alias("_h"),
        F.size(toks).cast("long").alias("n_tokens"),
    ).where(F.col("n_tokens") > 0)
    w = (
        Window.partitionBy("_shard_hex")
        .orderBy("_h", "key")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    start = (cum - F.col("n_tokens")).alias("start_offset")
    # hex shard label -> integer shard id (the DuckDB mirror reaches the
    # same value via hex-digit positions; only VALUES must match, not
    # mechanics); shard ids < 16**shard_chars
    shard = F.conv(F.col("_shard_hex"), 16, 10)
    out = base.select(
        "key",
        shard.cast("long").alias("shard"),
        "n_tokens",
        start,
        F.floor((cum - F.col("n_tokens")) / F.lit(ctx_len)).cast("long").alias("pack_first"),
        F.floor((cum - 1) / F.lit(ctx_len)).cast("long").alias("pack_last"),
    )
    assert n_shards >= 1
    return out


def token_pack_plan_oracle_sql(
    key_col: str = "doc_id",
    text_col: str = "text",
    ctx_len: int = 2048,
    shard_chars: int = 1,
    table: str = "documents",
) -> str:
    """DuckDB mirror of token_pack_plan's FROZEN RULE — same token rule,
    same md5 shard/order keys (lowercase hex on both engines), same integer
    offset algebra; floor-of-double division is exact below 2^53 on both."""
    digits = "0123456789abcdef"
    shard = "0"
    for i in range(shard_chars):
        shard = f"({shard}) * 16 + (strpos('{digits}', substr(_h, {i + 1}, 1)) - 1)"
    return f"""
        SELECT key, CAST({shard} AS BIGINT) AS shard, n_tokens,
               CAST(_cum - n_tokens AS BIGINT) AS start_offset,
               CAST(floor((_cum - n_tokens) / {ctx_len}) AS BIGINT) AS pack_first,
               CAST(floor((_cum - 1) / {ctx_len}) AS BIGINT) AS pack_last
        FROM (
            SELECT key, _h, n_tokens,
                   SUM(n_tokens) OVER (
                       PARTITION BY substr(_h, 1, {shard_chars})
                       ORDER BY _h, key ROWS UNBOUNDED PRECEDING
                   ) AS _cum
            FROM (
                SELECT {key_col} AS key, md5(CAST({key_col} AS VARCHAR)) AS _h,
                       CAST(len(string_split_regex(trim(lower({text_col})), '\\s+'))
                            AS BIGINT) AS n_tokens
                FROM {table} WHERE length(trim({text_col})) > 0
            )
        )
    """


# ------------------------------------------------------------- PII scrubbing

# FROZEN scrub order + patterns: replacement is applied sequentially in this
# order (email first so an IPv4-shaped mail domain is consumed by <EMAIL>
# before the ipv4 pass sees it); counts are over the ORIGINAL text, per
# pattern independently. Patterns restricted to syntax with identical
# semantics in Java regex (Spark) and RE2 (DuckDB): explicit classes, \d,
# \b, bounded quantifiers — no lookaround, no backrefs, no capture groups
# (extract-all group index is pinned to 0 on both sides).
PII_RULES = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d{7,14}", "<PHONE>"),
)


def pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact common PII shapes (emails, IPv4 literals, E.164-ish phone
    numbers) and count each — the scrub+audit pass a training-data pipeline
    runs before anything ships (cf. C4/Dolma PII handling). Adds
    ``n_email``/``n_ipv4``/``n_phone`` (int) and ``clean_text``.

    Count semantics (frozen): each ``n_*`` counts MATCHES OF ITS PATTERN IN
    THE ORIGINAL TEXT, independently per pattern — NOT replacements
    performed. Replacement is sequential (email, ipv4, phone), so counts
    can exceed actual redactions: an IPv4-shaped email domain counts in
    ``n_ipv4`` but is consumed by ``<EMAIL>`` first, and a 15+-digit ``+``
    run counts once in ``n_phone`` while the 7-14-digit rule replaces only
    its prefix. The counts are a detection audit (how much PII-shaped text
    arrived), deliberately decoupled from the rewrite so both stay
    single-pass, order-independent, and bit-equal with the DuckDB mirror.

    Zero-shuffle native projection (JVM regex inside codegen, no UDF);
    pipelines inside the scan at any corpus size. Engine-portable: the
    DuckDB mirror (pii_scrub_oracle_sql) uses the same frozen patterns and
    order, and the pattern syntax is chosen for identical Java/RE2
    semantics.
    """
    c = F.col(text_col)
    out = df
    for name, pat, _ in PII_RULES:
        out = out.withColumn(
            f"n_{name}",
            F.size(F.regexp_extract_all(c, F.lit(pat), F.lit(0))).cast("int"),
        )
    clean = c
    for _, pat, token in PII_RULES:
        clean = F.regexp_replace(clean, pat, token)
    return out.withColumn("clean_text", clean)


def pii_scrub_oracle_sql(
    text_expr: str = "text",
    select_cols: str = "doc_id",
    table: str = "documents",
) -> str:
    """DuckDB mirror of pii_scrub: same patterns, same order, global
    replacement ('g'), extract-all group 0."""
    counts = ", ".join(
        f"CAST(len(regexp_extract_all({text_expr}, '{pat}', 0)) AS INT) AS n_{name}"
        for name, pat, _ in PII_RULES
    )
    clean = text_expr
    for _, pat, token in PII_RULES:
        clean = f"regexp_replace({clean}, '{pat}', '{token}', 'g')"
    return (
        f"SELECT {select_cols}, {counts}, {clean} AS clean_text FROM {table}"
    )


# --------------------------------------------------------- sessionization


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_s: int = 1800,
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Gap-based session reconstruction over an event stream — the grouping
    step interaction/agent-log training pipelines run before turning raw
    events into documents (a session = one trajectory). FROZEN RULE: events
    of a user sort by (ts, tiebreak); a new session starts when the gap to
    the previous event EXCEEDS ``gap_s`` whole seconds (timestamps compare
    at floor-second resolution, engine-portable integer arithmetic).

    Returns (user_id, session_idx 1-based, n_events, start_s, end_s,
    duration_s) — all exact ints. Plan: ONE exchange total. The lag +
    running-sum windows partition by user; the per-session agg groups by
    (user, session_idx), and hash-partitioning on user already co-locates
    every such group, so Catalyst satisfies the agg's distribution without
    a second shuffle. Per-user data passes through one sort — the window's —
    which is the floor for order-dependent sessionization.
    """
    from pyspark.sql import Window

    # NTZ timestamps don't cast to long directly (Spark 4); the ltz hop is
    # an identity under the engine's pinned UTC session timezone and ltz ->
    # long = floor epoch seconds, matching the oracle's epoch_us // 1e6
    sec = F.col(ts_col).cast("timestamp_ltz").cast("long")
    # order by the SAME floor-second key the gap rule compares (plus the
    # tiebreak), so the frozen definition is one total order in both engines
    w = Window.partitionBy(user_col).orderBy(sec, F.col(tiebreak_col))
    new_s = (
        F.lag(sec).over(w).isNull() | (sec - F.lag(sec).over(w) > F.lit(int(gap_s)))
    ).cast("int")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = events.select(
        F.col(user_col),
        sec.alias("_sec"),
        F.sum(new_s).over(wsum).alias("session_idx"),
    )
    return (
        sess.groupBy(user_col, "session_idx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("_sec").alias("start_s"),
            F.max("_sec").alias("end_s"),
        )
        .withColumn("duration_s", F.col("end_s") - F.col("start_s"))
    )


def token_pack_stats(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    ctx_len: int = 2048,
    shard_chars: int = 1,
) -> DataFrame:
    """Pack-level view of ``token_pack_plan``: for every (shard, pack_id)
    training block, how many documents contribute tokens to it and how many
    tokens land in it — the batch-assembly audit table (every pack must
    hold exactly ``ctx_len`` tokens except each shard's tail pack; the
    n_docs distribution shows how often training sequences straddle
    document boundaries, the quantity attention-masking policies care
    about, cf. T5's pack masking [Raffel'20 §2.2]).

    FROZEN RULE: a doc with (start_offset, n_tokens) contributes
    ``min((p+1)*ctx, start+n) - max(p*ctx, start)`` tokens to each pack p
    in [pack_first, pack_last] — the interval-overlap algebra of the plan's
    offsets, so sum(n_tokens) over packs == sum over docs, exactly.

    Plan shape: token_pack_plan's ONE shard-keyed exchange + window cumsum,
    then a per-row explode over the doc's own pack span (amplification =
    mean packs/doc <= 1 + n_tokens/ctx_len, bounded by doc length) and one
    map-side-combined agg keyed (shard, pack_id) — a second key-partitioned
    exchange whose reducer count is total_tokens/ctx_len pack rows.
    """
    plan = token_pack_plan(df, key_col, text_col, ctx_len, shard_chars)
    e = plan.select(
        "shard",
        "n_tokens",
        "start_offset",
        F.explode(F.sequence("pack_first", "pack_last")).alias("pack_id"),
    )
    lo = F.greatest(F.col("pack_id") * F.lit(ctx_len).cast("long"), F.col("start_offset"))
    hi = F.least(
        (F.col("pack_id") + 1) * F.lit(ctx_len).cast("long"),
        F.col("start_offset") + F.col("n_tokens"),
    )
    return e.groupBy("shard", "pack_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(hi - lo).cast("long").alias("n_tokens"),
    )


def token_pack_stats_oracle_sql(
    key_col: str = "doc_id",
    text_col: str = "text",
    ctx_len: int = 2048,
    shard_chars: int = 1,
    table: str = "documents",
) -> str:
    """DuckDB mirror of token_pack_stats — the plan oracle as a CTE, a
    generate_series lateral over each doc's pack span, the same
    interval-overlap algebra. SUM is cast from DuckDB's HUGEINT to BIGINT
    so both engines hash identically."""
    plan = token_pack_plan_oracle_sql(key_col, text_col, ctx_len, shard_chars, table)
    return f"""
        WITH plan AS ({plan})
        SELECT shard, pack_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(least((pack_id + 1) * {ctx_len}, start_offset + n_tokens)
                        - greatest(pack_id * {ctx_len}, start_offset)) AS BIGINT)
                   AS n_tokens
        FROM (SELECT plan.*, s.pack_id
              FROM plan, LATERAL (SELECT unnest(generate_series(pack_first, pack_last))
                                  AS pack_id) s)
        GROUP BY shard, pack_id
    """


def source_mix_plan(
    df: DataFrame,
    targets: dict[str, int],
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Training-mixture plan: given per-source target proportions (integer
    basis points, the Pile/DoReMi-style domain-weights table), compute how
    much of each source an epoch can actually use — the planning step
    between a curated multi-source corpus and a sampler config.

    FROZEN RULE (all-integer so both engines agree bit-for-bit): tokens =
    whitespace split of trim(text) (NULL/blank -> 0, the engine's frozen
    token rule); the achievable epoch budget is set by the BINDING source,
    B = min over sources with target_bp > 0 of (n_tokens * 10000 div
    target_bp); each targeted source contributes expected_tokens =
    (B div 10000) * target_bp + ((B mod 10000) * target_bp) div 10000
    (== (B * target_bp) div 10000, decomposed so the product stays inside
    int64 out to ~10^14 tokens per source) and samples at keep_bp =
    (expected_tokens * 10000) div n_tokens. Sources present in the corpus
    but absent from ``targets`` get target_bp = 0 (excluded: keep_bp = 0);
    targets for sources absent from the corpus are ignored (the plan
    describes the corpus at hand).

    Output: one row per source present in the corpus —
    (source, n_docs, n_tokens, target_bp, keep_bp, expected_tokens).

    Scale shape: ONE map-combined groupBy(source) over a (source, text)
    pruned scan is the only corpus-sized work; everything after runs on the
    |sources|-row aggregate (the empty-frame window min is a deliberate
    single-partition pass over that tiny table, never the corpus). The
    keep_bp column feeds the existing md5-threshold samplers
    (stratified_sample_docs) as per-stratum rates.
    """
    t = F.trim(F.coalesce(F.col(text_col), F.lit("")))
    n_tok = (
        F.when(F.length(t) == 0, F.lit(0))
        .otherwise(F.size(F.split(t, r"\s+")))
        .cast("long")
    )
    per = (
        df.select(F.col(source_col).alias("source"), n_tok.alias("_nt"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_nt").cast("long").alias("n_tokens"),
        )
    )
    tmap = F.create_map(*[F.lit(x) for kv in targets.items() for x in kv])
    per = per.withColumn(
        "target_bp", F.coalesce(tmap[F.col("source")], F.lit(0)).cast("long")
    )
    w = Window.partitionBy()  # |sources| rows, post-agg — single partition is the point
    cap = F.when(F.col("target_bp") > 0, F.expr("n_tokens * 10000 div target_bp"))
    per = per.withColumn("_budget", F.min(cap).over(w))
    expected = (
        F.when(
            F.col("target_bp") > 0,
            F.expr(
                "(_budget div 10000) * target_bp"
                " + ((_budget % 10000) * target_bp) div 10000"
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
    )
    per = per.withColumn("expected_tokens", expected)
    keep_bp = (
        F.when(F.col("n_tokens") > 0, F.expr("expected_tokens * 10000 div n_tokens"))
        .otherwise(F.lit(0))
        .cast("long")
    )
    return per.select(
        "source",
        "n_docs",
        "n_tokens",
        "target_bp",
        keep_bp.alias("keep_bp"),
        "expected_tokens",
    )


def source_mix_plan_oracle_sql(
    targets: dict[str, int],
    text_col: str = "text",
    source_col: str = "source",
    table: str = "documents",
) -> str:
    """DuckDB mirror of source_mix_plan — the identical frozen integer rule
    (same token split, same decomposed budget product, `//` for div), with
    the targets inlined as a VALUES table."""
    tgt_rows = ",\n".join(
        f"('{s}', {int(bp)})" for s, bp in targets.items()
    )
    return f"""
        WITH tok AS (
            SELECT {source_col} AS source,
                   CASE WHEN length(trim(coalesce({text_col}, ''))) = 0 THEN 0
                        ELSE len(string_split_regex(trim({text_col}), '\\s+'))
                   END AS nt
            FROM {table}
        ),
        per AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(nt) AS BIGINT) AS n_tokens
            FROM tok GROUP BY source
        ),
        tgt(source, target_bp) AS (VALUES
            {tgt_rows}
        ),
        j AS (
            SELECT p.source, p.n_docs, p.n_tokens,
                   CAST(COALESCE(t.target_bp, 0) AS BIGINT) AS target_bp
            FROM per p LEFT JOIN tgt t ON p.source = t.source
        ),
        b AS (
            SELECT j.*,
                   MIN(CASE WHEN target_bp > 0
                            THEN n_tokens * 10000 // target_bp END)
                       OVER () AS budget
            FROM j
        ),
        e AS (
            SELECT b.*,
                   CASE WHEN target_bp > 0
                        THEN (budget // 10000) * target_bp
                             + ((budget % 10000) * target_bp) // 10000
                        ELSE CAST(0 AS BIGINT) END AS expected_tokens
            FROM b
        )
        SELECT source, n_docs, n_tokens, target_bp,
               CAST(CASE WHEN n_tokens > 0
                         THEN expected_tokens * 10000 // n_tokens
                         ELSE 0 END AS BIGINT) AS keep_bp,
               CAST(expected_tokens AS BIGINT) AS expected_tokens
        FROM e
    """
