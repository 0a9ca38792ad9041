"""Curation operators: benchmark decontamination + deterministic stratified
sampling — checked against direct python evaluation AND the DuckDB oracle
dialect (the same two-dialect lockstep pattern as the repetition stats)."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


from simhash_spark.operators.curation import (
    _rate_threshold,
    contamination_counts,
    contamination_oracle_sql,
    decontaminate,
    stratified_sample,
    stratified_sample_oracle_sql,
)


def _py_grams(text: str, n: int) -> set[str]:
    toks = text.strip().lower().split()
    if not toks:
        return set()
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def test_contamination_counts_vs_python(spark, docs):
    n = 5
    pdf = docs.select("doc_id", "text").toPandas()
    bench_mask = pdf["doc_id"] % 7 == 3
    bench_pdf, corp_pdf = pdf[bench_mask], pdf[~bench_mask]

    bench = spark.createDataFrame(bench_pdf)
    corpus = spark.createDataFrame(corp_pdf)
    got = {
        r["id"]: r["n_overlap"]
        for r in contamination_counts(corpus, bench, n=n).collect()
    }

    bench_grams = set().union(*(_py_grams(t, n) for t in bench_pdf["text"]), set())
    expect = {}
    for _, row in corp_pdf.iterrows():
        k = len(_py_grams(row["text"], n) & bench_grams)
        if k:
            expect[row["doc_id"]] = k
    assert got == expect
    # the synthetic corpus contains near-dup families, so a benchmark slice
    # must actually contaminate something — otherwise this test is vacuous
    assert expect, "fixture produced zero contamination; pick a new slice"

    clean = decontaminate(corpus, bench, n=n)
    assert set(r["doc_id"] for r in clean.select("doc_id").collect()) == set(
        corp_pdf["doc_id"]
    ) - set(expect)


def test_contamination_oracle_dialect_matches(spark, docs):
    """DuckDB mirror == Spark operator on the same documents slice."""
    pdf = docs.select("doc_id", "text").toPandas()
    pred = "doc_id % 7 = 3"
    bench = spark.createDataFrame(pdf[pdf["doc_id"] % 7 == 3])
    corpus = spark.createDataFrame(pdf[pdf["doc_id"] % 7 != 3])
    got = (
        contamination_counts(corpus, bench, n=5)
        .toPandas()
        .sort_values("id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    ora = (
        con.sql(contamination_oracle_sql(pred, n=5))
        .df()
        .sort_values("id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got.astype({"id": "int64", "n_overlap": "int64"}),
        ora.astype({"id": "int64", "n_overlap": "int64"}),
    )


def test_rate_threshold_mapping():
    assert _rate_threshold(0.0) == "0000"
    assert _rate_threshold(0.25) == "4000"
    assert _rate_threshold(0.5) == "8000"
    assert _rate_threshold(1.0) == "zzzz"  # sorts after every hex digit


def test_stratified_sample_deterministic_and_uniform(spark, docs):
    rates = {"en": 0.25, "de": 1.0}
    kept = stratified_sample(docs, "doc_id", "lang", rates, default_rate=0.5)
    a = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
    b = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
    assert a == b  # deterministic across runs

    # per-stratum empirical rates within a loose binomial band
    tot = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    got = {r["lang"]: r["n"] for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, n_tot in tot.items():
        rate = rates.get(lang, 0.5)
        frac = got.get(lang, 0) / n_tot
        assert abs(frac - rate) < 0.2, (lang, frac, rate)
    # de is kept wholesale
    if "de" in tot:
        assert got.get("de", 0) == tot["de"]


def test_stratified_sample_oracle_dialect_matches(spark, docs):
    rates = {"en": 0.25, "de": 1.0}
    pdf = docs.select("doc_id", "lang").toPandas()
    kept = stratified_sample(docs, "doc_id", "lang", rates, default_rate=0.5)
    got = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
    con = duckdb.connect()
    con.register("documents", pdf)
    where = stratified_sample_oracle_sql("doc_id", "lang", rates, default_rate=0.5)
    ora = sorted(
        con.sql(f"SELECT doc_id FROM documents WHERE {where}").df()["doc_id"].tolist()
    )
    assert got == ora


def _py_budget_sample(rows, budgets, default_budget):
    """Direct python evaluation of the frozen budget rule:
    rows = [(key, stratum, cost)] -> kept key set."""
    import hashlib
    from collections import defaultdict

    per = defaultdict(list)
    for key, st, cost in rows:
        per[st].append((hashlib.md5(str(key).encode()).hexdigest(), key, cost))
    kept = set()
    for st, lst in per.items():
        budget = budgets.get(st, default_budget)
        cum = 0
        for _, key, cost in sorted(lst):
            cum += cost
            if budget is None or cum <= budget:
                kept.add(key)
    return kept


def test_budget_sample_vs_python(spark, docs):
    from simhash_spark.operators.curation import budget_sample

    budgets = {"en": 10_000, "de": 5_000}
    rows = [
        (r["doc_id"], r["lang"], r["n_chars"])
        for r in docs.select("doc_id", "lang", "n_chars").collect()
    ]
    expect = _py_budget_sample(rows, budgets, 8_000)
    out = budget_sample(docs, "doc_id", "lang", "n_chars", budgets, 8_000)
    got = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert got == expect
    # the budgets must actually bite (otherwise the test is vacuous) and the
    # kept set must respect each budget exactly
    assert len(got) < len(rows)
    kept_rows = [(k, s, c) for k, s, c in rows if k in got]
    from collections import defaultdict

    spend = defaultdict(int)
    for _, s, c in kept_rows:
        spend[s] += c
    for s, total in spend.items():
        assert total <= budgets.get(s, 8_000), (s, total)


def test_budget_sample_unlimited_default_keeps_unlisted_strata(spark, docs):
    from simhash_spark.operators.curation import budget_sample

    out = budget_sample(docs, "doc_id", "lang", "n_chars", {"en": 1}, None)
    tot = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    got = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, n in tot.items():
        if lang == "en":
            assert got.get(lang, 0) <= 1  # at most one doc can cost <= 1 char
        else:
            assert got.get(lang, 0) == n  # unlimited default keeps everything


def test_budget_sample_oracle_dialect_matches(spark, docs):
    from simhash_spark.operators.curation import budget_sample, budget_sample_oracle_sql

    budgets = {"en": 10_000, "de": 5_000}
    pdf = docs.select("doc_id", "lang", "n_chars").toPandas()
    out = budget_sample(docs, "doc_id", "lang", "n_chars", budgets, 8_000)
    got = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    con = duckdb.connect()
    con.register("documents", pdf)
    sql = budget_sample_oracle_sql(
        "doc_id", "lang", "n_chars", budgets, 8_000, select_cols="doc_id"
    )
    ora = sorted(con.sql(sql).df()["doc_id"].tolist())
    assert got == ora


def test_budget_sample_null_stratum_follows_default_budget(spark):
    """r4 regression (ADVICE): NULL-stratum rows were silently DROPPED —
    the cuts join used plain equality, which never matches the NULL cuts
    row. They must follow the FROZEN RULE under default_budget, like the
    oracle's CASE ... ELSE arm, with all NULLs forming one stratum."""
    from simhash_spark.operators.curation import budget_sample, budget_sample_oracle_sql

    rows = [(i, None if i % 3 == 0 else ("en" if i % 2 == 0 else "de"), 100 + i)
            for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
    budgets = {"en": 3_000, "de": 2_000}
    out = budget_sample(df, "doc_id", "lang", "n_chars", budgets, 4_000)
    got = {r["doc_id"] for r in out.select("doc_id").collect()}
    expect = _py_budget_sample(rows, budgets, 4_000)
    assert got == expect
    assert any(i % 3 == 0 for i in got), "NULL-stratum rows all dropped"

    con = duckdb.connect()
    con.register("documents", df.toPandas())
    sql = budget_sample_oracle_sql(
        "doc_id", "lang", "n_chars", budgets, 4_000, select_cols="doc_id"
    )
    ora = set(con.sql(sql).df()["doc_id"].tolist())
    assert got == ora


def test_budget_sample_non_string_stratum(spark):
    """r4 (ADVICE): an int stratum column must keep its type through the
    cuts join (the cuts schema used to hardcode string) and the oracle must
    render it unquoted."""
    from simhash_spark.operators.curation import budget_sample, budget_sample_oracle_sql

    rows = [(i, i % 4, 50 + i) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, bucket long, n_chars long")
    budgets = {0: 1_500, 1: 800}
    out = budget_sample(df, "doc_id", "bucket", "n_chars", budgets, 2_000)
    got = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert got == _py_budget_sample(rows, budgets, 2_000)

    con = duckdb.connect()
    con.register("documents", df.toPandas())
    sql = budget_sample_oracle_sql(
        "doc_id", "bucket", "n_chars", budgets, 2_000, select_cols="doc_id"
    )
    assert got == set(con.sql(sql).df()["doc_id"].tolist())


def test_budget_sample_high_cardinality_stratum_fails_loudly(spark):
    """r4 (ADVICE): a per-key stratum column must raise, not OOM the driver
    through the |strata| x 256 cutoff collect."""
    from simhash_spark.operators.curation import budget_sample

    df = spark.range(0, 5000).select(
        F.col("id").alias("doc_id"),
        F.col("id").cast("string").alias("domain"),
        F.lit(100).alias("n_chars"),
    )
    with pytest.raises(ValueError, match="max_strata"):
        budget_sample(df, "doc_id", "domain", "n_chars", {}, 1_000, max_strata=16)


def test_oracle_sql_escapes_quoted_strata(spark):
    """r4 (ADVICE): stratum values containing single quotes must not break
    (or diverge) the generated oracle SQL."""
    from simhash_spark.operators.curation import (
        budget_sample,
        budget_sample_oracle_sql,
        stratified_sample,
        stratified_sample_oracle_sql,
    )

    rows = [(i, "it's" if i % 2 == 0 else "plain", 100) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
    con = duckdb.connect()
    con.register("documents", df.toPandas())

    rates = {"it's": 0.25}
    kept = stratified_sample(df, "doc_id", "lang", rates, default_rate=1.0)
    got = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
    where = stratified_sample_oracle_sql("doc_id", "lang", rates, default_rate=1.0)
    ora = sorted(con.sql(f"SELECT doc_id FROM documents WHERE {where}").df()["doc_id"])
    assert got == ora

    budgets = {"it's": 2_000}
    out = budget_sample(df, "doc_id", "lang", "n_chars", budgets, None)
    got_b = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    sql = budget_sample_oracle_sql(
        "doc_id", "lang", "n_chars", budgets, None, select_cols="doc_id"
    )
    ora_b = sorted(con.sql(sql).df()["doc_id"].tolist())
    assert got_b == ora_b

def _py_spans(text: str, bench_grams: set[str], n: int):
    """Direct python evaluation of contaminated_spans' FROZEN RULE."""
    toks = text.strip().lower().split()
    if not toks:
        return []
    nt = len(toks)
    if nt < n:
        grams = [" ".join(toks)]
    else:
        grams = [" ".join(toks[i : i + n]) for i in range(nt - n + 1)]
    hits = [i + 1 for i, g in enumerate(grams) if g in bench_grams]
    spans = []
    for p in hits:
        if spans and p <= spans[-1][1] + n:
            spans[-1] = (spans[-1][0], p, spans[-1][2] + 1)
        else:
            spans.append((p, p, 1))
    return [(s, min(e + n - 1, nt), c) for s, e, c in spans]


def test_contaminated_spans_vs_python_and_oracle(spark, docs):
    from simhash_spark.operators.curation import (
        contaminated_spans,
        contaminated_spans_oracle_sql,
    )

    n = 5
    pdf = docs.select("doc_id", "text").toPandas()
    bench_mask = pdf["doc_id"] % 7 == 3
    bench = spark.createDataFrame(pdf[bench_mask])
    corpus = spark.createDataFrame(pdf[~bench_mask])

    got = sorted(
        (r["id"], r["start_tok"], r["end_tok"], r["n_grams"])
        for r in contaminated_spans(corpus, bench, n=n).collect()
    )

    bench_grams = set().union(*(_py_grams(t, n) for t in pdf[bench_mask]["text"]), set())
    expect = sorted(
        (row["doc_id"], s, e, c)
        for _, row in pdf[~bench_mask].iterrows()
        for s, e, c in _py_spans(row["text"], bench_grams, n)
    )
    assert got == expect
    assert expect, "fixture produced zero contaminated spans; pick a new slice"
    # every counted doc in contamination_counts must own >= 1 span here
    from simhash_spark.operators.curation import contamination_counts

    counted = {r["id"] for r in contamination_counts(corpus, bench, n=n).collect()}
    assert counted == {t[0] for t in got}

    con = duckdb.connect()
    con.register("documents", pdf)
    ora = sorted(
        tuple(r)
        for r in con.sql(contaminated_spans_oracle_sql("doc_id % 7 = 3", n=n))
        .df()
        .itertuples(index=False)
    )
    assert got == ora


def test_contaminated_spans_merge_and_clamp_rules(spark):
    """Touching grams merge (next start == prev start + n), a gap of one
    token splits, and the short-doc full-join gram clamps end_tok to nt."""
    from simhash_spark.operators.curation import contaminated_spans

    rows = [
        (1, "a b c d e f g h i j"),                    # bench
        (2, "a b c d e x x x x x a b c d e f g h i j"),  # pos1 + pos11..16
        (3, "q a b c d e q q q q q a b c d e"),        # pos2 and pos12
        (4, "a b c"),                                   # short doc, no hit
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bench = df.where(F.col("doc_id") == 1)
    corpus = df.where(F.col("doc_id") != 1)
    got = sorted(
        (r["id"], r["start_tok"], r["end_tok"], r["n_grams"])
        for r in contaminated_spans(corpus, bench, n=5).collect()
    )
    assert got == [(2, 1, 5, 1), (2, 11, 20, 6), (3, 2, 6, 1), (3, 12, 16, 1)]

    # short-doc clamp: make the whole short doc a benchmark gram
    bench2 = spark.createDataFrame([(9, "tiny doc")], "doc_id long, text string")
    corpus2 = spark.createDataFrame([(10, "tiny doc")], "doc_id long, text string")
    got2 = [
        (r["start_tok"], r["end_tok"], r["n_grams"])
        for r in contaminated_spans(corpus2, bench2, n=5).collect()
    ]
    assert got2 == [(1, 2, 1)], "end_tok must clamp to the doc's token count"

def test_excise_spans_vs_python_and_oracle(spark, docs):
    """excise_spans = the frozen tokenization minus contaminated_spans
    ranges; every corpus doc survives (clean docs with 0 removed)."""
    from simhash_spark.operators.curation import (
        contaminated_spans,
        excise_spans,
        excise_spans_oracle_sql,
    )

    n = 5
    pdf = docs.select("doc_id", "text").toPandas()
    bench_mask = pdf["doc_id"] % 7 == 3
    bench = spark.createDataFrame(pdf[bench_mask])
    corpus = spark.createDataFrame(pdf[~bench_mask])

    out = excise_spans(corpus, bench, n=n).toPandas().sort_values("id").reset_index(drop=True)
    assert len(out) == (~bench_mask).sum(), "every corpus doc must survive"

    # python mirror: tokens minus span ranges
    bench_grams = set().union(*(_py_grams(t, n) for t in pdf[bench_mask]["text"]), set())
    expect_rows = []
    for _, row in pdf[~bench_mask].iterrows():
        toks = row["text"].strip().lower().split()
        spans = _py_spans(row["text"], bench_grams, n)
        keep = [t for i, t in enumerate(toks, start=1)
                if not any(s <= i <= e for s, e, _ in spans)]
        expect_rows.append((row["doc_id"], " ".join(keep), len(toks) - len(keep)))
    expect = pd.DataFrame(expect_rows, columns=["id", "clean_text", "n_tokens_removed"]).sort_values("id").reset_index(drop=True)
    pd.testing.assert_frame_equal(
        out.astype({"id": "int64", "n_tokens_removed": "int64"}),
        expect.astype({"id": "int64", "n_tokens_removed": "int64"}),
    )
    assert (out["n_tokens_removed"] > 0).any(), "fixture excised nothing; vacuous"

    # removed-token accounting must agree with the span table
    spans_df = contaminated_spans(corpus, bench, n=n).toPandas()
    span_tokens = (
        spans_df.assign(w=spans_df["end_tok"] - spans_df["start_tok"] + 1)
        .groupby("id")["w"].sum()
    )
    got_removed = out.set_index("id")["n_tokens_removed"]
    for doc_id, w in span_tokens.items():
        assert got_removed[doc_id] == w, (doc_id, got_removed[doc_id], w)

    con = duckdb.connect()
    con.register("documents", pdf)
    ora = (
        con.sql(excise_spans_oracle_sql("doc_id % 7 = 3", n=n))
        .df().sort_values("id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        out.astype({"id": "int64", "n_tokens_removed": "int64"}),
        ora.astype({"id": "int64", "n_tokens_removed": "int64"}),
    )


# ------------------------------------------- cross-group leakage + dedup report


def test_cross_group_pairs_vs_python(spark, docs):
    """Cross-source pair filter agrees with a pure-pandas join, and pairs
    whose members share a source are excluded."""
    from simhash_spark.operators.curation import cross_group_pairs

    d = docs.limit(200)
    pdf = d.toPandas()
    # synthetic pair set: consecutive doc ids (deterministic, source-mixed)
    ids = sorted(pdf["doc_id"].tolist())
    pairs_py = [(str(a), str(b)) for a, b in zip(ids, ids[1:])]
    pairs = spark.createDataFrame(pairs_py, "a string, b string")
    out = cross_group_pairs(pairs, d, id_col="doc_id", group_col="source").toPandas()

    src = {str(r.doc_id): r.source for r in pdf.itertuples()}
    expect = {
        (a, b, src[a], src[b]) for a, b in pairs_py if src[a] != src[b]
    }
    got = {tuple(r) for r in out[["a", "b", "group_a", "group_b"]].itertuples(index=False)}
    assert got == expect
    assert all(ga != gb for _, _, ga, gb in got)


def test_dedup_report_vs_python(spark, docs):
    """Per-group dedup report agrees with a pure-python recount over a
    hand-built label set with known cluster structure."""
    from simhash_spark.operators.curation import dedup_report

    d = docs.limit(100)
    pdf = d.toPandas()
    ids = sorted(str(i) for i in pdf["doc_id"].tolist())
    # clusters of 3: representative = min member (the frozen keep rule);
    # remainder are singletons labelled by themselves
    labels_py = []
    for i, doc in enumerate(ids):
        rep = ids[(i // 3) * 3] if i < 60 else doc
        labels_py.append((doc, rep))
    labels = spark.createDataFrame(labels_py, "doc_id string, cluster_id string")
    out = (
        dedup_report(labels, d, id_col="doc_id", group_col="source")
        .toPandas().sort_values("group").reset_index(drop=True)
    )

    from collections import Counter, defaultdict
    csize = Counter(c for _, c in labels_py)
    src = {str(r.doc_id): r.source for r in pdf.itertuples()}
    agg = defaultdict(lambda: [0, 0, 0])
    for doc, cid in labels_py:
        g = agg[src[doc]]
        g[0] += 1
        g[1] += int(csize[cid] > 1)
        g[2] += int(doc == cid)
    for row in out.itertuples():
        n_docs, n_dup, n_kept = agg[row.group]
        assert (row.n_docs, row.n_dup_docs, row.n_kept) == (n_docs, n_dup, n_kept), row
        assert row.dup_ratio == n_dup / n_docs
    assert set(out["group"]) == set(agg)


# --------------------------------------------------------------- PII scrubbing


def test_pii_scrub_rules_and_duckdb_lockstep(spark):
    """Hostile PII shapes: multiple hits per doc, an IPv4-shaped mail domain
    (consumed by the email pass first — the frozen order), phone length
    bounds, and no-op on clean text; Spark and DuckDB agree on counts AND
    the scrubbed text byte-for-byte."""
    from simhash_spark.operators.curation import pii_scrub, pii_scrub_oracle_sql

    rows = [
        (1, "mail a@b.co and c.d+x@sub.example.org now"),
        (2, "host 10.0.0.1 and 255.255.255.255 up"),
        (3, "call +15551234567 or +1234567 but not +123456"),
        (4, "weird bob@10.0.0.99.net stays one email"),
        (5, "nothing to scrub here"),
        (6, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = (
        pii_scrub(df, "text")
        .select("doc_id", "n_email", "n_ipv4", "n_phone", "clean_text")
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    assert got.loc[0, ["n_email", "n_ipv4", "n_phone"]].tolist() == [2, 0, 0]
    assert got.loc[0, "clean_text"] == "mail <EMAIL> and <EMAIL> now"
    assert got.loc[1, ["n_email", "n_ipv4", "n_phone"]].tolist() == [0, 2, 0]
    assert got.loc[2, ["n_email", "n_ipv4", "n_phone"]].tolist() == [0, 0, 2]
    assert got.loc[2, "clean_text"] == "call <PHONE> or <PHONE> but not +123456"
    # email pass consumes the IPv4-shaped domain before the ipv4 pass runs,
    # but the ipv4 COUNT (over original text) still sees it — frozen rule
    assert got.loc[3, "clean_text"] == "weird <EMAIL> stays one email"
    assert got.loc[3, "n_email"] == 1 and got.loc[3, "n_ipv4"] == 1
    assert got.loc[4, "clean_text"] == "nothing to scrub here"
    assert got.loc[5, "clean_text"] == ""

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    ora = (
        con.sql(pii_scrub_oracle_sql("text"))
        .df().sort_values("doc_id").reset_index(drop=True)
    )
    for col in ("n_email", "n_ipv4", "n_phone", "clean_text"):
        assert got[col].tolist() == ora[col].tolist(), col


def test_run_curation_cli_stage_accounting(spark, tmp_path, capsys):
    """The one-call curation CLI: stages run in the frozen order, every
    stage's row accounting is exact (verified against operators run
    directly), sampling is deterministic, and the output parquet carries
    the scrubbed text + audit columns."""
    import json as _json

    from pyspark.sql import functions as F

    from jobs.run_curation import main as curation_main
    from simhash_spark.operators.curation import pii_scrub, stratified_sample
    from simhash_spark.operators.dedup import exact_dedup, near_dup_keep_list
    from simhash_spark.operators.textops import quality_filter

    src = "/root/testdata/sf0.001/documents.parquet"
    # a cached DataFrame over the input swaps the file scan out of every
    # plan over that path; rows_in must still count the input's rows
    docs = spark.read.parquet(src).cache()
    n_docs = docs.count()
    rc = curation_main(
        ["--input", src, "--output", str(tmp_path / "out"),
         "--substring", "--sample-rate", "0.8"]
    )
    assert rc == 0
    stats = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    docs.unpersist()
    assert stats["rows_in"] == n_docs

    by_stage = {s["stage"]: s for s in stats["stages"]}
    q = quality_filter(docs, "text")
    hist = {r["reason"]: r["n"] for r in
            q.groupBy("reason").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by_stage["quality_filter"]["rows_out"] == hist.get("ok", 0)
    assert by_stage["quality_filter"]["dropped"] == {
        k: v for k, v in hist.items() if k != "ok"
    }

    kept_q = q.where("keep = 1").drop("keep", "reason")
    scrubbed = pii_scrub(kept_q, "text")
    tot = scrubbed.agg(F.sum("n_email"), F.sum("n_ipv4"), F.sum("n_phone")).collect()[0]
    assert by_stage["pii_scrub"]["redacted"] == {
        "email": tot[0] or 0, "ipv4": tot[1] or 0, "phone": tot[2] or 0,
    }
    clean = scrubbed.drop("text").withColumnRenamed("clean_text", "text")
    assert by_stage["exact_dedup"]["rows_out"] == exact_dedup(clean, "doc_id", "text").count()

    labels = spark.read.parquet(str(tmp_path / "out" / "_stages" / "04_clusters"))
    assert by_stage["near_dup"]["clusters"] == labels.select("cluster_id").distinct().count()
    assert by_stage["near_dup"]["rows_out"] == (
        near_dup_keep_list(labels, id_col="doc_id").where("is_kept = 1").count()
    )

    out = spark.read.parquet(str(tmp_path / "out" / "documents"))
    assert stats["rows_out"] == out.count() == by_stage["sample"]["rows_out"]
    assert {"n_email", "n_ipv4", "n_phone"} <= set(out.columns)
    # sampling is the deterministic md5 rule over the near-dup survivors
    nd_rows = by_stage["near_dup"]["rows_out"]
    assert 0 < stats["rows_out"] < nd_rows
    pre_sample_ids = {r["doc_id"] for r in out.collect()}
    resample = stratified_sample(out, "doc_id", "doc_id", {}, default_rate=0.8)
    assert {r["doc_id"] for r in resample.collect()} == pre_sample_ids  # idempotent


def test_run_curation_evaluates_each_document_once(spark, tmp_path, jobs_started):
    """Tripwire against second passes over the per-document projection:
    with the near-dup stage off, turning quality + PII on adds exactly the
    jobs of one bare parquet write of their plan. Their stats are observed
    during that write, and exact dedup reads its pinned output, so no
    histogram/totals collect and no count runs, and no later write
    re-evaluates the quality rules."""
    from pyspark.sql import functions as F

    from jobs.run_curation import run_curation
    from simhash_spark.operators.curation import pii_scrub
    from simhash_spark.operators.textops import quality_filter

    src = f"{SF}/documents.parquet"
    off = jobs_started(
        lambda: run_curation(
            spark, src, str(tmp_path / "off"), quality=False, pii=False, near_dup=False
        )
    )
    stats = {}
    on = jobs_started(
        lambda: stats.update(run_curation(spark, src, str(tmp_path / "on"), near_dup=False))
    )
    kept = quality_filter(spark.read.parquet(src), "text").where(F.col("keep") == 1)
    plan = pii_scrub(kept.drop("keep", "reason"), "text")
    bare = jobs_started(lambda: plan.write.parquet(str(tmp_path / "bare")))
    assert bare >= 1 and on - off == bare
    # and the stats that write observed are the real ones
    assert stats["stages"][0]["rows_out"] == spark.read.parquet(str(tmp_path / "bare")).count()


def test_run_curation_semantic_stage_is_the_tier_ladder(spark, tmp_path):
    """--embeddings adds SemDeDup as stage 4b, completing the dedup tier
    ladder: with quality/PII off, the CLI's surviving set must equal
    dedup_tier_labels' kept set EXACTLY (same md5 rule, same near-dup
    pipeline, same quantizer/tau), and the stage accounting must agree."""
    from jobs.run_curation import run_curation
    from simhash_spark.operators.ann import ivf_fit
    from simhash_spark.operators.dedup import dedup_tier_labels

    sfd = "/root/testdata/sf0.001"
    stats = run_curation(
        spark,
        f"{sfd}/documents.parquet",
        str(tmp_path / "out"),
        quality=False,
        pii=False,
        embeddings_path=f"{sfd}/embeddings.parquet",
        semantic_tau=0.4,
        semantic_centroids=16,
    )
    assert [s["stage"] for s in stats["stages"]] == [
        "exact_dedup", "near_dup", "semantic_dedup", "write",
    ]
    out = spark.read.parquet(str(tmp_path / "out" / "documents"))
    got_ids = {r["doc_id"] for r in out.select("doc_id").collect()}

    docs = spark.read.parquet(f"{sfd}/documents.parquet")
    emb = spark.read.parquet(f"{sfd}/embeddings.parquet")
    cent = ivf_fit(emb, n_centroids=16)  # same fit defaults as the CLI
    tiers = dedup_tier_labels(docs, emb, cent, tau=0.4).toPandas()
    exp_ids = set(tiers[tiers.is_kept == 1].doc_id)
    assert got_ids == exp_ids
    by_stage = {s["stage"]: s for s in stats["stages"]}
    assert by_stage["semantic_dedup"]["rows_out"] == len(exp_ids)
    assert stats["rows_out"] == len(exp_ids)
    # the stage dropped someone (the sf corpus has semantic dups at 0.4)
    assert by_stage["semantic_dedup"]["rows_out"] < by_stage["near_dup"]["rows_out"]


def test_run_curation_tier_ladder_agrees_on_null_texts(spark, tmp_path):
    """Review fix: exact_dedup used to collapse all NULL-text rows into one
    md5(NULL) group while dedup_tier_labels passed them through — the CLI
    and the ladder now share the frozen absent-content rule (NULL text
    never groups, always survives the exact tier), so the surviving-set
    equality holds on corpora WITH nulls too."""
    import pandas as pd

    from jobs.run_curation import run_curation
    from simhash_spark.operators.ann import ivf_fit
    from simhash_spark.operators.dedup import dedup_tier_labels, exact_dedup

    sfd = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sfd}/documents.parquet").select("doc_id", "text")
    planted = docs.unionByName(
        spark.createDataFrame(
            pd.DataFrame({"doc_id": [9001, 9002, 9003], "text": [None, None, None]}),
            "doc_id long, text string",
        )
    )
    # unit check of the shared rule: all three null rows survive exact_dedup
    surv = exact_dedup(planted, "doc_id", "text")
    assert {9001, 9002, 9003} <= {r["doc_id"] for r in surv.select("doc_id").collect()}

    src = tmp_path / "null_docs"
    planted.write.mode("overwrite").parquet(str(src))
    emb = spark.read.parquet(f"{sfd}/embeddings.parquet")
    stats = run_curation(
        spark,
        str(src),
        str(tmp_path / "out"),
        quality=False,
        pii=False,
        embeddings_path=f"{sfd}/embeddings.parquet",
        semantic_tau=0.4,
        semantic_centroids=16,
    )
    out = spark.read.parquet(str(tmp_path / "out" / "documents"))
    got_ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    cent = ivf_fit(emb, n_centroids=16)
    tiers = dedup_tier_labels(planted, emb, cent, tau=0.4).toPandas()
    exp_ids = set(tiers[tiers.is_kept == 1].doc_id)
    assert got_ids == exp_ids
    assert {9001, 9002, 9003} <= got_ids  # null texts survive every tier
    assert stats["rows_out"] == len(exp_ids)


def test_run_curation_weight_policy_splits_and_shards(spark, tmp_path):
    """The three production faces on the frozen 5-stage core:
    --near-dup-policy weight keeps EVERY near-dup row (downweight, don't
    delete) carrying cluster_size/weight_bp >= 1; --splits assigns the
    leakage-safe split CLUSTER-atomically (no near-dup pair straddles a
    boundary) and matches assign_splits on the pinned labels; --shards
    hash-partitions the output with manifest counts that sum to rows_out
    and reproduce the frozen pmod(xxhash64) rule."""
    from pyspark.sql import functions as F

    from jobs.run_curation import run_curation
    from simhash_spark.operators.curation import assign_splits

    src = "/root/testdata/sf0.001/documents.parquet"
    stats = run_curation(
        spark, src, str(tmp_path / "out"),
        near_dup_policy="weight",
        splits={"train": 0.8, "val": 0.1},
        n_shards=4,
    )
    by_stage = {s["stage"]: s for s in stats["stages"]}

    # weight policy: the near-dup stage deletes nothing
    assert by_stage["near_dup"]["policy"] == "weight"
    assert by_stage["near_dup"]["rows_out"] == by_stage["exact_dedup"]["rows_out"]

    out = spark.read.parquet(str(tmp_path / "out" / "documents"))
    assert {"cluster_size", "weight_bp", "split", "shard"} <= set(out.columns)
    agg = out.agg(F.min("weight_bp"), F.min("cluster_size"), F.max("cluster_size")).collect()[0]
    assert agg[0] >= 1 and agg[1] >= 1 and agg[2] > 1  # real multi-doc clusters present

    # split is cluster-atomic and equals assign_splits over the pinned labels
    labels = spark.read.parquet(str(tmp_path / "out" / "_stages" / "04_clusters"))
    want = {
        r["doc_id"]: r["split"]
        for r in assign_splits(labels, fractions={"train": 0.8, "val": 0.1}).collect()
    }
    got_rows = out.select("doc_id", "split", "shard").collect()
    assert {str(r["doc_id"]): r["split"] for r in got_rows} == {
        k: v for k, v in want.items() if str(k) in {str(r["doc_id"]) for r in got_rows}
    }
    per_cluster = (
        out.join(labels.select(F.col("doc_id").cast("long").alias("doc_id"), "cluster_id"), "doc_id")
        .groupBy("cluster_id").agg(F.countDistinct("split").alias("n")).agg(F.max("n")).collect()[0][0]
    )
    assert per_cluster == 1
    assert by_stage["split"]["split_counts"] == {
        r["split"]: r["n"]
        for r in out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }

    # shards: manifest counts sum to rows_out and match the frozen hash rule
    write_stage = by_stage["write"]
    assert sum(write_stage["shard_counts"].values()) == stats["rows_out"]
    expect_shard = out.withColumn(
        "want", F.pmod(F.xxhash64(F.col("doc_id").cast("string")), F.lit(4)).cast("int")
    )
    assert expect_shard.where("shard != want").count() == 0

    # splits without the near-dup stage: per-doc singleton clusters
    stats2 = run_curation(
        spark, src, str(tmp_path / "out2"),
        quality=False, pii=False, near_dup=False,
        splits={"train": 0.5},
    )
    out2 = spark.read.parquet(str(tmp_path / "out2" / "documents"))
    singletons = out2.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("doc_id").cast("string").alias("cluster_id"),
    )
    want2 = {r["doc_id"]: r["split"] for r in assign_splits(singletons, fractions={"train": 0.5}).collect()}
    assert {str(r["doc_id"]): r["split"] for r in out2.select("doc_id", "split").collect()} == want2
    assert stats2["rows_out"] == out2.count() > 0


def test_sessionize_semantics_and_single_exchange(spark):
    """Constructed gaps: events 0s,10s,1810s/…  split exactly at gaps > 1800;
    boundary gap == 1800 does NOT split (frozen rule: strictly greater).
    Plan: ONE exchange — the user window's hashpartitioning(user_id) already
    co-locates every (user_id, session_idx) group, so the per-session agg
    adds no second shuffle."""
    import datetime as dt

    from pyspark.sql import functions as F

    from simhash_spark.operators.curation import sessionize

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # user 1: [0, 10] | [1811, 1900] — split once (gap 1801 > 1800)
    for i, off in enumerate([0, 10, 1811, 1900]):
        rows.append((i, t0 + dt.timedelta(seconds=off), 1, "e", 0.0, "{}"))
    # user 2: [0, 1800] — exactly-1800 gap does NOT split
    rows.append((10, t0, 2, "e", 0.0, "{}"))
    rows.append((11, t0 + dt.timedelta(seconds=1800), 2, "e", 0.0, "{}"))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string"
    )
    out = sessionize(df, gap_s=1800)
    got = {
        (r["user_id"], r["session_idx"]): (r["n_events"], r["start_s"], r["end_s"], r["duration_s"])
        for r in out.collect()
    }
    base = int(t0.replace(tzinfo=dt.timezone.utc).timestamp())
    assert got == {
        (1, 1): (2, base, base + 10, 10),
        (1, 2): (2, base + 1811, base + 1900, 89),
        (2, 1): (2, base, base + 1800, 1800),
    }
    # the finalized adaptive plan only (toString repeats exchanges in the
    # "== Initial Plan ==" section after an action has run)
    plan = out._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    n_ex = plan.count("Exchange hashpartitioning")
    assert n_ex == 1, f"expected 1 exchange, saw {n_ex}:\n{plan}"


def test_excise_spans_raw_preserves_original_formatting(spark):
    """Raw-text excision: kept regions keep casing/punctuation/whitespace
    byte-for-byte; mid-text cuts leave single spacing; trailing cuts leave
    no dangling gap; clean docs pass through untouched; n_tokens_removed
    equals the frozen excise_spans count on the same input."""
    from simhash_spark.operators.curation import excise_spans, excise_spans_raw

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            # mid-text contamination: the quoted benchmark run sits between
            # formatted clean text on both sides
            (1, "Hello, World!  alpha beta gamma delta epsilon  And MORE text here."),
            # trailing contamination
            (2, "Keep This Prefix; alpha beta gamma delta epsilon"),
            # clean doc with odd formatting — must survive verbatim
            (3, "  No   Contamination\tAT ALL — but SIX tokens at least!  "),
            # fully contaminated doc -> outer whitespace only
            (4, " alpha beta gamma delta epsilon "),
        ],
        "doc_id long, text string",
    )
    got = {
        r["id"]: (r["clean_text"], r["n_tokens_removed"])
        for r in excise_spans_raw(corpus, bench, n=5).collect()
    }
    assert got[1] == ("Hello, World!  And MORE text here.", 5)
    assert got[2] == ("Keep This Prefix;", 5)
    assert got[3] == ("  No   Contamination\tAT ALL — but SIX tokens at least!  ", 0)
    assert got[4] == ("  ", 5)

    frozen = {
        r["id"]: r["n_tokens_removed"]
        for r in excise_spans(corpus, bench, n=5).collect()
    }
    assert {k: v[1] for k, v in got.items()} == frozen


def test_dedup_repeated_blocks_rules_and_duckdb_lockstep(spark):
    """C4-style repeated-block removal: the globally first occurrence
    (ordered by doc_id, block_id) of a block survives; later cross-doc AND
    within-doc occurrences are excised; exact-dup docs keep one copy; empty
    docs pass through. DuckDB runs the same frozen rule bit-exact."""
    import duckdb as _dd

    from simhash_spark.operators.curation import (
        dedup_repeated_blocks,
        repeated_blocks_oracle_sql,
    )

    rows = [
        # doc 1: blocks [a b c] [d e f] [g] (k=3, partial tail)
        (1, "A b c d e f g"),
        # doc 2: repeats doc 1's first block, then its own, then doc 1's
        # first block AGAIN (within-doc repeat of a removed block)
        (2, "a b c x y z a b c"),
        # doc 3: exact duplicate of doc 1 -> every block removed
        (3, "a B c d e f g"),
        # doc 4: within-doc-only repetition -> second occurrence removed
        (4, "p q r p q r"),
        # doc 5: empty / whitespace-only -> no blocks
        (5, "   "),
        (6, None),
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["id"]: (r["clean_text"], r["n_blocks"], r["n_blocks_removed"])
        for r in dedup_repeated_blocks(corpus, k=3).collect()
    }
    assert got[1] == ("a b c d e f g", 3, 0)
    assert got[2] == ("x y z", 3, 2)
    assert got[3] == ("", 3, 3)
    assert got[4] == ("p q r", 2, 1)
    assert got[5] == ("", 0, 0)
    assert got[6] == ("", 0, 0)

    con = _dd.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    oracle = {
        int(r[0]): (r[1], int(r[2]), int(r[3]))
        for r in con.sql(repeated_blocks_oracle_sql(k=3)).fetchall()
    }
    assert oracle == got


def test_run_curation_pack_plan_face(spark, tmp_path):
    """--pack-ctx writes the deterministic packing plan over the FINAL
    output and the manifest's token/pack totals obey the plan algebra:
    n_tokens == the output corpus's token count, n_packs == sum over shards
    of ceil(shard_tokens/ctx), and the written plan equals token_pack_plan
    recomputed on the output docs."""
    import math

    from pyspark.sql import functions as F

    from jobs.run_curation import run_curation
    from simhash_spark.operators.curation import token_pack_plan
    from simhash_spark.operators.textops import _tokens_col

    src = "/root/testdata/sf0.001/documents.parquet"
    stats = run_curation(
        spark, src, str(tmp_path / "out"),
        quality=False, pii=False, substring=False,
        pack_ctx=256,
    )
    by_stage = {s["stage"]: s for s in stats["stages"]}
    ps = by_stage["pack_plan"]
    assert ps["ctx_len"] == 256 and ps["shards"] == 16

    out = spark.read.parquet(str(tmp_path / "out" / "documents"))
    plan = spark.read.parquet(str(tmp_path / "out" / "pack_plan"))
    want_tokens = out.select(
        F.sum(F.size(_tokens_col(F.col("text")))).alias("t")
    ).collect()[0]["t"]
    assert ps["n_tokens"] == want_tokens == plan.agg(F.sum("n_tokens")).collect()[0][0]
    assert ps["rows_packed"] == plan.count()

    shard_tokens = {
        r["shard"]: r["t"]
        for r in plan.groupBy("shard").agg(F.sum("n_tokens").alias("t")).collect()
    }
    assert ps["n_packs"] == sum(math.ceil(t / 256) for t in shard_tokens.values())

    want = {
        (r["key"], r["shard"], r["start_offset"])
        for r in token_pack_plan(out, "doc_id", "text", ctx_len=256).collect()
    }
    got = {(r["key"], r["shard"], r["start_offset"]) for r in plan.collect()}
    assert got == want


# ------------------------------------------------ Bloom-filter decontamination


def test_bloom_kernel_membership_and_sizing():
    """Pure-numpy kernel properties: every inserted key tests positive
    (structural no-false-negative), the false-positive rate on a disjoint
    key set stays near the frozen analytic bound, sizing is a power of two
    with the floor, and the empty filter rejects everything."""
    import numpy as np

    from simhash_spark.functions.bloom import bloom_build, bloom_maybe

    rng = np.random.default_rng(7)
    keys = rng.integers(0, 2**64, size=4096, dtype=np.uint64)
    words, m = bloom_build(keys, bits_per_key=16, k_probes=8)
    assert m == 1 << 16 and m % 64 == 0 and len(words) == m // 64
    assert bloom_maybe(words, m, 8, keys).all()

    others = rng.integers(0, 2**64, size=200_000, dtype=np.uint64)
    others = np.setdiff1d(others, keys)
    fp = bloom_maybe(words, m, 8, others).mean()
    # analytic (1 - e^-0.5)^8 ~= 5.6e-4; allow generous sampling slack
    assert fp < 3e-3

    w0, m0 = bloom_build(np.zeros(0, dtype=np.uint64))
    assert m0 == 64 and not bloom_maybe(w0, m0, 8, keys).any()


def test_bloom_counts_mirror_and_superset_of_exact(spark, docs):
    """The engine's zero-exchange bloom pass must (a) equal an independent
    per-row python mirror of the FROZEN rules exactly, and (b) dominate the
    exact join per doc (one-sided error: n_maybe_overlap >= n_overlap, every
    truly contaminated doc detected) with total false-positive mass near the
    analytic rate."""
    from simhash_spark import spec
    from simhash_spark.operators.curation import bloom_contamination_counts

    n = 5
    pdf = docs.select("doc_id", "text").toPandas()
    bench_mask = pdf["doc_id"] % 7 == 3
    bench_pdf, corp_pdf = pdf[bench_mask], pdf[~bench_mask]
    bench = spark.createDataFrame(bench_pdf)
    corpus = spark.createDataFrame(corp_pdf)

    got = {
        r["id"]: (r["n_grams"], r["n_maybe_overlap"])
        for r in bloom_contamination_counts(corpus, bench, n=n).collect()
    }
    assert set(got) == set(corp_pdf["doc_id"])

    # independent mirror: python-int probe math + set-of-bit-indices filter
    mask64 = (1 << 64) - 1

    def fnv_set(t):
        gs = sorted(_py_grams(t or "", n))
        return {int(x) for x in spec.fnv1a64_str(gs)} if gs else set()

    bench_h = set().union(*(fnv_set(t) for t in bench_pdf["text"]), set())
    want = 16 * len(bench_h)
    m_bits = 1 << max(6, (want - 1).bit_length() if want > 1 else 0)

    def probes(u):
        step = (u >> 33) | 1
        return [((u + i * step) & mask64) & (m_bits - 1) for i in range(8)]

    bitset = set()
    for u in bench_h:
        bitset.update(probes(u))
    exact = {
        r["id"]: r["n_overlap"]
        for r in contamination_counts(corpus, bench, n=n).collect()
    }
    assert exact, "fixture produced zero contamination; pick a new slice"
    fp_total = 0
    for _, row in corp_pdf.iterrows():
        hs = fnv_set(row["text"])
        nm = sum(1 for u in hs if all(p in bitset for p in probes(u)))
        assert got[row["doc_id"]] == (len(hs), nm)
        assert nm >= exact.get(row["doc_id"], 0)
        fp_total += nm - exact.get(row["doc_id"], 0)
    n_grams_total = sum(g for g, _ in got.values())
    # frozen analytic fp ~5.6e-4/gram; 10x slack for the small sample
    assert fp_total <= max(5, int(6e-3 * n_grams_total))


def test_bloom_bench_guard_raises(spark, docs):
    from simhash_spark.operators.curation import bloom_contamination_counts

    bench = docs.where(F.col("doc_id") % 7 == 3)
    corpus = docs.where(F.col("doc_id") % 7 != 3)
    with pytest.raises(ValueError, match="max_bench_grams"):
        bloom_contamination_counts(corpus, bench, max_bench_grams=10).collect()


def test_bloom_corpus_pass_is_zero_exchange(spark, docs):
    """The scale claim: the corpus side of the bloom pass plans with NO
    exchange at all — pure projection (scan -> UDF eval), vs the exact
    path's explode + broadcast join + count agg."""
    from simhash_spark.operators.curation import bloom_contamination_counts

    bench = docs.where(F.col("doc_id") % 7 == 3)
    corpus = docs.where(F.col("doc_id") % 7 != 3)
    out = bloom_contamination_counts(corpus, bench, n=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "CartesianProduct" not in plan


def test_bloom_null_and_empty_text_rows(spark):
    """NULL / empty / whitespace-only text rows (ABSENT-CONTENT class) pass
    through with n_grams = 0, n_maybe_overlap = 0 — never a crash, never a
    phantom gram."""
    from simhash_spark.operators.curation import bloom_contamination_counts

    corpus = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "shared gram text body here")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(9, "shared gram text body here today")], "doc_id long, text string"
    )
    got = {
        r["id"]: (r["n_grams"], r["n_maybe_overlap"])
        for r in bloom_contamination_counts(corpus, bench, n=5).collect()
    }
    assert got[1] == (0, 0) and got[2] == (0, 0) and got[3] == (0, 0)
    assert got[4] == (1, 1)  # 5 tokens -> ONE 5-gram, present in the bench doc


@pytest.mark.parametrize("mode", ["bloom", "exact"])
def test_run_curation_decontaminate_stage(spark, tmp_path, mode):
    """The CLI's 2b decontamination stage (both modes) equals the operator
    composition quality -> scrub -> drop-contaminated on the SCRUBBED text,
    with the drop recorded in the stage manifest."""
    from jobs.run_curation import run_curation
    from simhash_spark.operators.curation import (
        bloom_contamination_counts,
        contamination_counts,
        pii_scrub,
    )
    from simhash_spark.operators.textops import quality_filter

    src = f"{SF}/documents.parquet"
    bench_dir = tmp_path / f"bench_{mode}"
    spark.read.parquet(src).where("doc_id % 7 = 3").write.parquet(str(bench_dir))

    out = tmp_path / f"cur_{mode}"
    stats = run_curation(
        spark,
        src,
        str(out),
        near_dup=False,
        decontaminate_path=str(bench_dir),
        decontaminate_mode=mode,
    )
    got = {
        r["doc_id"]
        for r in spark.read.parquet(str(out / "documents")).select("doc_id").collect()
    }

    kept = quality_filter(spark.read.parquet(src), "text").where("keep = 1").drop(
        "keep", "reason"
    )
    scrubbed = (
        pii_scrub(kept, "text").drop("text").withColumnRenamed("clean_text", "text")
    )
    bench = spark.read.parquet(str(bench_dir))
    if mode == "bloom":
        dirty = bloom_contamination_counts(scrubbed, bench, n=5).where(
            "n_maybe_overlap >= 1"
        )
    else:
        dirty = contamination_counts(scrubbed, bench, n=5).where("n_overlap >= 1")
    dirty_ids = {r["id"] for r in dirty.select("id").collect()}
    expect = {r["doc_id"] for r in scrubbed.select("doc_id").collect()} - dirty_ids
    assert got == expect

    stage = next(s for s in stats["stages"] if s["stage"] == "decontaminate")
    assert stage["mode"] == mode and stage["dropped"] == len(dirty_ids)
    assert stage["dropped"] > 0, "fixture bench slice contaminated nothing; vacuous"
