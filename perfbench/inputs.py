"""Seeded benchmark inputs, cached per seed, and the checks that do not trust
the engine.

Every input is a pure function of ``(workload, sizes, seed)``: the same seed
gives byte-identical parquet files. Generation fans out over at most
``cores`` spawned processes. The engine only ever sees the written files.

The references here use ``sources.fixtures.compute_truth`` (the brute-force
oracle built on the frozen single-document spec), Python ``re`` and pandas,
never a Spark plan of the engine.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import pathlib
import re
import shutil

import numpy as np
import pandas as pd

# Bump when a generator changes: cached inputs of an older version are
# ignored, never reused.
GENERATOR_VERSION = 5

IMAGE_COLUMNS = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]


def _sub_seed(seed: int, *parts: object) -> int:
    key = ":".join(str(p) for p in (seed, *parts)).encode()
    return int.from_bytes(hashlib.sha256(key).digest()[:8], "little") >> 1


def write_parts(df: pd.DataFrame, out_dir: pathlib.Path, n_files: int) -> None:
    """Write ``df`` as ``n_files`` parquet files of contiguous row ranges."""
    out_dir.mkdir(parents=True, exist_ok=True)
    bounds = np.linspace(0, len(df), n_files + 1).astype(int)
    for i in range(n_files):
        df.iloc[bounds[i] : bounds[i + 1]].to_parquet(
            out_dir / f"part-{i:05d}.parquet", index=False
        )


# ------------------------------------------------------------------ images


def _image_chunk(args: tuple[int, int]) -> pd.DataFrame:
    from simhash_spark.sources.fixtures import make_images_pdf

    n, seed = args
    return make_images_pdf(n, seed=seed, with_bytes=True)


# The family's base caption is long and each member changes one token, so
# that most members keep most MinHash bands of the base. Over 80 seeds, a
# 330-member family had 22-31 band keys above ``bucket_cap`` (256), the
# hottest holding 285-304 members. A 40-token base with 1-2 token edits keeps
# the hottest key of a 300-member family at 160-200 members.
FAMILY_BASE_TOKENS = 120


def _caption_family(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct captions, each a one-token edit of one base caption."""
    vocab = [f"w{i:04d}" for i in range(1900)]
    base = [vocab[i] for i in rng.integers(0, len(vocab), FAMILY_BASE_TOKENS)]
    out: set[str] = set()
    while len(out) < n:
        toks = list(base)
        toks[int(rng.integers(0, len(toks)))] = vocab[int(rng.integers(0, len(vocab)))]
        cap = " ".join(toks)
        if cap != " ".join(base):
            out.add(cap)
    return sorted(out)


def make_image_corpus(
    n_rows: int, seed: int, n_family: int, pool
) -> pd.DataFrame:
    """The image+caption corpus of the BASELINE ``input_hint`` shape.

    Built from ``sources.fixtures.make_images_pdf`` chunks (planted clusters,
    pixel near-dups, substring dups, one byte-equal hot caption per chunk).
    ``n_family`` of the rows form one family of near-identical captions:
    one-token edits of one caption, never byte-equal to each other. Row order
    is shuffled and ids are assigned after the shuffle.
    """
    n_chunks = max(1, min(8, (n_rows - n_family) // 500))
    sizes = np.diff(np.linspace(0, n_rows - n_family, n_chunks + 1).astype(int))
    jobs = [(int(s), _sub_seed(seed, "img", i)) for i, s in enumerate(sizes)]
    if n_family:
        jobs.append((n_family, _sub_seed(seed, "family-pixels")))
    parts = pool.map(_image_chunk, jobs)
    if n_family:
        rng = np.random.default_rng(_sub_seed(seed, "family-captions"))
        fam = parts[-1].copy()
        fam["caption"] = _caption_family(rng, n_family)
        parts[-1] = fam
    df = pd.concat(parts, ignore_index=True)
    order = np.random.default_rng(_sub_seed(seed, "order")).permutation(len(df))
    df = df.iloc[order].reset_index(drop=True)
    df["image_id"] = [f"img{i:09d}" for i in range(len(df))]
    return df[IMAGE_COLUMNS]


def pair_recall(pairs: np.ndarray, label: dict) -> float:
    """Share of ``pairs`` whose two ends carry the same cluster label."""
    if not len(pairs):
        return 1.0
    hits = [label.get(int(a), -1) == label.get(int(b), -2) for a, b in pairs]
    return float(np.mean(hits))


# --------------------------------------------------------------- documents

_STOP = ("the", "a", "an", "of", "and", "to", "in", "is", "it")
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def make_documents(n_docs: int, seed: int) -> pd.DataFrame:
    """A documents corpus with the sf ``documents`` schema.

    Planted structure, so that every curation stage drops or rewrites rows:
    low-quality docs of four kinds, PII (emails, IPv4, phones), byte-equal
    copies, copies that differ only in their PII (equal after the scrub),
    1-2 token near dups and docs that embed a long run of another doc.
    """
    rng = np.random.default_rng(_sub_seed(seed, "docs"))
    lens = rng.integers(3, 10, 4000)
    vocab = ["".join(rng.choice(_LETTERS, int(k))) for k in lens]

    def words(n: int) -> list[str]:
        out = []
        for _ in range(n):
            if rng.random() < 0.2:
                out.append(_STOP[int(rng.integers(0, len(_STOP)))])
            else:
                out.append(vocab[int(rng.integers(0, len(vocab)))])
        return out

    def pii() -> str:
        k = rng.random()
        if k < 0.4:
            return f"{vocab[int(rng.integers(0, len(vocab)))]}{int(rng.integers(0, 999))}@example.org"
        if k < 0.7:
            return ".".join(str(int(x)) for x in rng.integers(1, 255, 4))
        return "+" + "".join(str(int(x)) for x in rng.integers(0, 10, 11))

    texts: list[str] = []
    while len(texts) < n_docs:
        kind = rng.random()
        base = words(int(rng.integers(30, 120)))
        if kind < 0.50:
            texts.append(" ".join(base))
        elif kind < 0.58:  # low quality
            q = int(rng.integers(0, 4))
            if q == 0:
                texts.append(" ".join(base[: int(rng.integers(3, 15))]))
            elif q == 1:
                texts.append(" ".join([base[0], "the"] * int(rng.integers(15, 40))))
            elif q == 2:
                texts.append(" ".join(w + " !!! ###" for w in base[:40]))
            else:
                texts.append(" ".join(w for w in base if w not in _STOP))
        elif kind < 0.66:  # PII inside a clean doc
            cut = int(rng.integers(0, len(base)))
            texts.append(" ".join(base[:cut] + ["contact", pii()] + base[cut:]))
        elif kind < 0.74:  # byte-equal copies
            texts.extend([" ".join(base)] * int(rng.integers(2, 5)))
        elif kind < 0.80:  # copies equal only after the PII scrub
            texts.extend(
                " ".join(base + ["mail", f"user{int(rng.integers(0, 10**6))}@example.com"])
                for _ in range(int(rng.integers(2, 4)))
            )
        elif kind < 0.90:  # near dups: 1-2 token substitutions
            texts.append(" ".join(base))
            for _ in range(int(rng.integers(1, 4))):
                t = list(base)
                for _ in range(int(rng.integers(1, 3))):
                    t[int(rng.integers(0, len(t)))] = vocab[int(rng.integers(0, len(vocab)))]
                texts.append(" ".join(t))
        else:  # substring dups: a long verbatim run inside fresh text
            texts.append(" ".join(base))
            run = base[: max(20, len(base) // 2)]
            texts.append(" ".join(words(10) + run + words(10)))
    texts = texts[:n_docs]
    order = np.random.default_rng(_sub_seed(seed, "doc-order")).permutation(n_docs)
    texts = [texts[i] for i in order]
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": "en",
            "source": [f"src{i % 7}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


# The frozen Gopher-style keep/drop rules of the curation quality filter,
# restated in Python: thresholds and first-violated-rule order.
_QUALITY_RULES = (
    ("too_few_tokens", lambda s: s["n_tok"] < 20),
    ("too_many_tokens", lambda s: s["n_tok"] > 1_000_000),
    ("low_alnum_ratio", lambda s: s["alnum_ratio"] < 0.77),
    ("mean_token_len", lambda s: s["mean_tok"] < 3.0 or s["mean_tok"] > 10.0),
    ("few_stopwords", lambda s: s["stop"] < 1),
    ("dup_tokens", lambda s: s["dup_tok"] > 0.65),
    ("dup_2grams", lambda s: s["dup_2g"] > 0.10),
)
_STOP_RE = re.compile(r"\b(" + "|".join(_STOP) + r")\b")
_PII_RULES = (
    (re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"), "<EMAIL>"),
    (re.compile(r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"), "<IP>"),
    (re.compile(r"\+\d{7,14}"), "<PHONE>"),
)


def _dup_frac(xs: list[str]) -> float:
    return 0.0 if not xs else (len(xs) - len(set(xs))) / len(xs)


def quality_reason(text: str) -> str:
    t = text.strip()
    toks = re.split(r"\s+", t) if t else []
    ltoks = re.split(r"\s+", t.lower()) if t else []
    n_alnum = len(re.sub(r"[^a-z0-9]", "", text.lower()))
    s = {
        "n_tok": len(toks),
        "alnum_ratio": n_alnum / max(len(text), 1),
        "mean_tok": 0.0 if not toks else n_alnum / len(toks),
        "stop": len(_STOP_RE.findall(text.lower())),
        "dup_tok": _dup_frac(ltoks),
        "dup_2g": _dup_frac([f"{a} {b}" for a, b in zip(ltoks, ltoks[1:])]),
    }
    return next((name for name, rule in _QUALITY_RULES if rule(s)), "ok")


def scrub(text: str) -> str:
    for pat, token in _PII_RULES:
        text = pat.sub(token, text)
    return text


def curation_reference(docs: pd.DataFrame) -> tuple[dict, pd.DataFrame]:
    """Quality-drop histogram and the exact-dedup survivors (doc_id and
    scrubbed text), in pandas."""
    reasons = docs["text"].map(quality_reason)
    kept = docs[reasons == "ok"].assign(clean=lambda d: d["text"].map(scrub))
    survivors = kept.loc[kept.groupby("clean")["doc_id"].idxmin()].sort_values("doc_id")
    dropped = reasons[reasons != "ok"].value_counts()
    ref = {
        "dropped": {str(k): int(v) for k, v in dropped.items()},
        "exact_survivors": survivors["doc_id"].astype(int).tolist(),
    }
    return ref, survivors[["doc_id", "clean"]].reset_index(drop=True)


# ------------------------------------------------------------------- cache


class InputCache:
    """``<root>/.perfbench_cache/<key>-v<version>/``: the input files plus the
    references computed from them. ``key`` names the workload, its sizes and
    the seed. A directory is complete once its ``meta.json`` exists; anything
    else is rebuilt."""

    def __init__(self, root: pathlib.Path, key: str, cores: int):
        self.dir = root / ".perfbench_cache" / f"{key}-v{GENERATOR_VERSION}"
        self.cores = cores

    def load_or_build(self, build) -> tuple[pathlib.Path, dict, bool]:
        meta_path = self.dir / "meta.json"
        if meta_path.exists():
            return self.dir, json.loads(meta_path.read_text()), True
        shutil.rmtree(self.dir, ignore_errors=True)
        self.dir.mkdir(parents=True)
        ctx = multiprocessing.get_context("spawn")
        with ctx.Pool(self.cores) as pool:
            meta = build(self.dir, pool)
        meta_path.write_text(json.dumps(meta))
        return self.dir, meta, False


def _truth_pairs(df: pd.DataFrame) -> np.ndarray:
    """All dup pairs of ``df`` under ``sources.fixtures.compute_truth``, the
    brute-force oracle independent of the Spark pipeline, as integer ids."""
    from simhash_spark.sources.fixtures import compute_truth

    tp, _ = compute_truth(df)
    pairs = np.stack([tp["a"].map(_int_id), tp["b"].map(_int_id)], axis=1)
    return pairs.astype(np.int64).reshape(-1, 2)


def _int_id(image_id: str) -> int:
    return int(image_id.removeprefix("img"))


def build_images(
    out: pathlib.Path, pool, seed: int, n_rows: int, n_family: int, n_files: int
) -> dict:
    df = make_image_corpus(n_rows, seed, n_family, pool)
    write_parts(df, out / "corpus", n_files)
    pairs = _truth_pairs(df)
    np.save(out / "truth_pairs.npy", pairs)
    return {"n_rows": len(df), "n_family": n_family, "n_truth_pairs": len(pairs)}


def build_documents(out: pathlib.Path, seed: int, n_docs: int, n_files: int) -> dict:
    docs = make_documents(n_docs, seed)
    write_parts(docs, out / "documents", n_files)
    ref, survivors = curation_reference(docs)
    # near-dup truth over what the near-dup stage sees: the scrubbed text of
    # the exact-dedup survivors. Text has no pHash axis; each doc gets its id
    # with every bit repeated 4 times as pHash, so any two differ in >= 4 bits
    # and no pair is within the pHash radius of 3.
    ids = survivors["doc_id"].to_numpy(np.int64)
    if len(ids) and ids.max() >= 1 << 15:
        raise ValueError("the pHash code below holds doc ids below 2**15")
    rep4 = np.zeros(len(ids), dtype=np.int64)
    for bit in range(15):
        rep4 |= ((ids >> bit) & 1) * (0xF << (4 * bit))
    pairs = _truth_pairs(
        pd.DataFrame({"image_id": [str(i) for i in ids], "caption": survivors["clean"], "phash": rep4})
    )
    np.save(out / "truth_pairs.npy", pairs)
    return {"n_docs": n_docs, "n_truth_pairs": len(pairs), **ref}
