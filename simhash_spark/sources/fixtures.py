"""Deterministic synthetic image+caption fixtures (FIXTURES.md F1/F2).

Generates the exact `input_hint` schema (image_id, bytes, w, h, fmt, caption,
phash) with planted duplicate structure, plus brute-force ground truth
(truth_pairs / truth_clusters) computed independently of the pipeline — the
differential oracle for the dup-pair recall >= 0.99 gate (BASELINE.json:2).

Images are uncompressed PPM (P6) generated with numpy only (no codec libs in
the container); phash is an 8x8 average-hash of the generated pixels. The
pipeline itself never decodes bytes (SURVEY.md §7.7) — bytes exist to prove
the engine prunes/passes them through untouched.
"""

from __future__ import annotations

import pathlib

import numpy as np
import pandas as pd

from simhash_spark import spec
from simhash_spark.config import DEFAULT_CONFIG, PipelineConfig

_UNICODE_WORDS = ["café", "über", "naïve", "résumé", "señor", "crème"]

# the BASELINE input_hint shape as a Spark DDL schema. Always pass this to
# spark.createDataFrame(make_images_pdf(...)) — with with_bytes=False the
# bytes column is all-None and schema inference fails (CANNOT_DETERMINE_TYPE)
INPUT_HINT_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long"
)


def _vocab(rng: np.random.Generator) -> np.ndarray:
    base = [f"w{i:04d}" for i in range(1900)]
    stops = ["the", "of", "and", "to", "in", "is", "with", "for", "on", "at"] * 9
    return np.array(base + stops + _UNICODE_WORDS, dtype=object)


def _ppm(rng: np.random.Generator, w: int, h: int) -> tuple[bytes, np.ndarray]:
    """Deterministic random-block-pattern RGB image as raw PPM.

    An 8x8 random block pattern upsampled to (h, w) + small noise: every image
    gets an essentially uniform-random ahash (a shared gradient would make all
    phashes collide and fabricate false pixel-dup truth)."""
    blocks = rng.integers(0, 256, size=(8, 8)).astype(np.float32)
    pattern = np.kron(blocks, np.ones((h // 8 + 1, w // 8 + 1), np.float32))[:h, :w]
    noise = rng.integers(0, 16, size=(h, w, 3))
    px = np.clip(pattern[:, :, None] + noise, 0, 255).astype(np.uint8)
    header = f"P6\n{w} {h}\n255\n".encode()
    return header + px.tobytes(), px


# the fixture's stored perceptual hash IS the engine's ahash operator —
# one definition (operators/multimodal.py), so decode-recompute == stored.
from simhash_spark.operators.multimodal import ahash64  # noqa: E402


def make_images_pdf(
    n_rows: int,
    seed: int = 42,
    with_bytes: bool = True,
    hot_frac: float = 0.01,
) -> pd.DataFrame:
    """Planted-cluster corpus: ~55% singletons, small clusters of 2-10 with
    exact/caption-edit/pixel/substring variants, one hot cluster of
    ``hot_frac`` identical captions (skew stress)."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng)
    rows: list[dict] = []

    def new_caption() -> list[str]:
        n = int(rng.integers(8, 61))
        return [str(w) for w in vocab[rng.integers(0, len(vocab), n)]]

    def render(tokens: list[str]) -> str:
        return " ".join(tokens)

    def add_row(caption: str, phash: np.uint64 | None, dims: tuple[int, int] | None = None):
        i = len(rows)
        if dims is None:
            dims = (int(rng.choice([32, 48, 64])), int(rng.choice([32, 48, 64])))
        w, h = dims
        if with_bytes:
            data, px = _ppm(rng, w, h)
            ph = ahash64(px) if phash is None else phash
        else:
            data = None
            ph = np.uint64(rng.integers(0, 2**63)) if phash is None else phash
        rows.append(
            {
                "image_id": f"img{i:09d}",
                "bytes": data,
                "w": w,
                "h": h,
                "fmt": "ppm",
                "caption": caption,
                "phash": int(spec.u64_to_i64(np.array([ph]))[0]),
            }
        )
        return ph

    hot_n = max(0, int(n_rows * hot_frac))
    hot_caption = render(new_caption())
    for _ in range(hot_n):
        add_row(hot_caption, None)

    while len(rows) < n_rows:
        budget = n_rows - len(rows)
        kind = rng.random()
        if kind < 0.55 or budget == 1:
            add_row(render(new_caption()), None)
            continue
        size = int(min(budget, rng.integers(2, 11)))
        base_tokens = new_caption()
        base_ph = add_row(render(base_tokens), None)
        for _ in range(size - 1):
            v = rng.random()
            if v < 0.3:  # exact dup (caption identical, phash near)
                add_row(render(base_tokens), _flip_bits(base_ph, rng, 0))
            elif v < 0.65:  # caption near-dup: 1-2 token substitutions
                t = list(base_tokens)
                for _ in range(int(rng.integers(1, 3))):
                    t[int(rng.integers(0, len(t)))] = str(vocab[int(rng.integers(0, len(vocab)))])
                add_row(render(t), None)
            elif v < 0.85:  # pixel near-dup: phash within Hamming<=3, new caption
                add_row(render(new_caption()), _flip_bits(base_ph, rng, int(rng.integers(0, 4))))
            else:  # substring dup: verbatim run embedded in different text
                run = base_tokens[: max(12, len(base_tokens) // 2)]
                t = new_caption()[:8] + run + new_caption()[:8]
                add_row(render(t), None)
    return pd.DataFrame(rows)


def make_hot_anchor_pdf(n_family: int, n_other: int = 0, seed: int = 5) -> pd.DataFrame:
    """A substring family over one hot anchor, then ``n_other`` unrelated
    captions (no bytes; random phash, so no pixel pairs).

    Each family caption wraps a cut of one passage in its own random words.
    Every cut holds the passage's 40-char core and extends it to each side
    (by 0-39 chars, or by 0-3 for a quarter of them), so the family shares
    the core's winnowing anchors (anchor buckets of up to ``n_family``
    docs), while two members share a run of 48 chars only when their cuts
    overlap by 8 more chars: the short cuts share the hot anchors with the
    family and a run with nobody."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng)[:1900]

    def words(n: int) -> str:
        return " ".join(str(v) for v in vocab[rng.integers(0, len(vocab), n)])

    passage = words(40)
    core = len(passage) // 2 - 20
    captions = []
    for _ in range(n_family):
        left, right = (int(x) for x in rng.integers(0, 4 if rng.random() < 0.25 else 40, 2))
        cut = passage[core - left : core + 40 + right]
        captions.append(f"{words(int(rng.integers(4, 9)))} {cut} {words(int(rng.integers(4, 9)))}")
    captions += [words(int(rng.integers(8, 40))) for _ in range(n_other)]
    return pd.DataFrame(
        {
            "image_id": [f"img{i:09d}" for i in range(len(captions))],
            "bytes": [None] * len(captions),
            "w": 32,
            "h": 32,
            "fmt": "ppm",
            "caption": captions,
            "phash": spec.u64_to_i64(
                rng.integers(0, 2**63, len(captions), dtype=np.uint64)
            ).astype(np.int64),
        }
    )


def plant_byte_reuploads(
    pdf: pd.DataFrame, every: int = 7, offset: int = 3
) -> pd.DataFrame:
    """Plant byte-identical re-uploads into a ``with_bytes=True`` fixture.

    Every row at index ``i`` with ``i % every == offset`` becomes a re-upload
    of the canonical row ``i - offset``: the FILE columns (bytes, w, h, fmt,
    phash) are copied verbatim while image_id and caption stay the row's own
    — the real-world shape of the same image re-posted under a new id with a
    different caption, the case byte-exact dedup (md5 over the binary column)
    catches before any perceptual stage runs. Pure deterministic post-pass:
    it consumes no RNG, so the shared make_images_pdf stream (and every
    expected parquet pinned to it) is untouched.
    """
    out = pdf.copy()
    for i in range(offset, len(out), every):
        src = i - offset
        for col in ("bytes", "w", "h", "fmt", "phash"):
            out.at[i, col] = pdf.at[src, col]
    return out


def plant_semantic_rerenders(
    pdf: pd.DataFrame,
    every: int = 11,
    offset: int = 5,
    seed: int = 97,
    tau: float = 0.9,
    margin: float = 0.02,
    min_phash_hamming: int = 4,
) -> pd.DataFrame:
    """Plant SEMANTIC near-duplicates into a ``with_bytes=True`` fixture —
    rows that evade BOTH the byte tier and the near tier but stay embedding-
    close: a re-render of an earlier image's content under fresh per-block
    lighting, strong enough to flip > phash_radius ahash bits (so the phash
    axis misses it) yet leaving the centered block-mean embedding at cosine
    >= tau + margin to the original (so the semantic tier catches it). The
    row keeps its own image_id and caption (caption-SimHash misses it too).

    Every row at index ``i`` with ``i % every == offset`` becomes a
    re-render of row ``i - offset``: pixels = base pixels + a deterministic
    per-8x8-block offset, amplitude chosen per row from a fixed ladder until
    both constraints hold (rows where no rung satisfies them are left
    untouched — deterministic either way). bytes/w/h are rewritten; stored
    phash = the re-render's own ahash (the from-pixels contract); fmt stays
    'ppm'. Pure post-pass over its own seeded RNG — the make_images_pdf
    stream and every expected parquet pinned to it are untouched.

    The constraints are asserted per planted row here AND re-checked with a
    tier-exercise assertion at expected-parquet generation time
    (tests/gen_expected.py), so a drifting fixture fails loudly.
    """
    from simhash_spark.operators.multimodal import decode_rgb, image_embedding_of

    out = pdf.copy()
    for i in range(offset, len(out), every):
        base = out.iloc[i - offset]
        if base["bytes"] is None or out.at[i, "bytes"] is None:
            continue
        base_px = decode_rgb(bytes(base["bytes"]), "ppm")
        base_emb = image_embedding_of(base_px)
        base_ah = ahash64(base_px)
        base_stored = spec.i64_to_u64(np.array([base["phash"]], np.int64))[0]
        h, w = base_px.shape[:2]
        for amp in (24, 32, 40, 48, 56, 16):
            r = np.random.default_rng(seed * 1_000_003 + i * 7919 + amp)
            cells = r.integers(-amp, amp + 1, size=(8, 8)).astype(np.float32)
            pert = np.kron(cells, np.ones((h // 8 + 1, w // 8 + 1), np.float32))[:h, :w]
            px = np.clip(base_px.astype(np.float32) + pert[:, :, None], 0, 255).astype(
                np.uint8
            )
            ah = ahash64(px)
            far = all(
                int(spec.popcount64(np.array([ah ^ other]))[0]) >= min_phash_hamming
                for other in (base_ah, base_stored)
            )
            cos = float(image_embedding_of(px) @ base_emb)
            if far and cos >= tau + margin:
                out.at[i, "bytes"] = f"P6\n{w} {h}\n255\n".encode() + px.tobytes()
                out.at[i, "w"] = int(w)
                out.at[i, "h"] = int(h)
                out.at[i, "fmt"] = "ppm"
                out.at[i, "phash"] = int(spec.u64_to_i64(np.array([ah]))[0])
                break
    return out


def plant_alignment_tints(
    pdf: pd.DataFrame,
    every: int = 3,
    mismatch_every: int = 4,
    tint: float = 0.8,
) -> pd.DataFrame:
    """Plant image-caption ALIGNMENT structure into a ``with_bytes=True``
    fixture — the ground truth for the cross-modal alignment filter
    (operators/multimodal.py::caption_pixel_alignment). Every ``every``-th
    row with bytes is TINTED toward one palette anchor (cycling through
    ALIGNMENT_PALETTE) and its caption gains the matching color word as a
    whitespace-separated suffix (" mostly <color>"); every
    ``mismatch_every``-th tinted row instead claims a DIFFERENT palette
    color — the scraped-web mismatch the filter exists to drop. Untinted
    rows keep their color-word-free captions (make_images_pdf's vocab has
    none), exercising the no_caption_signal pass-through.

    Three deterministic special rows exercise the remaining frozen rules:
      row 1: bytes -> None, caption claims a color  -> no_pixel_signal
             (rule ORDER: pixel-absence wins over present caption signal)
      row 2: fmt -> 'png' (payload untouched)       -> decode quarantine
      row 4: bytes -> all-zero pixels, claims a color -> zero-norm pixel sum

    Tint rule: px' = clip(rint((1-tint)*px + tint*anchor)); stored phash is
    re-derived from the tinted pixels (the from-pixels contract); w/h/fmt
    unchanged. Pure deterministic post-pass, no RNG — the shared
    make_images_pdf stream is untouched. The matched-vs-mismatched cosine
    margin this construction yields is asserted at expected-parquet
    generation (tests/gen_expected.py), so a drifting fixture fails loudly.
    """
    from simhash_spark.operators.multimodal import ALIGNMENT_PALETTE, decode_rgb

    names = [n for n, _ in ALIGNMENT_PALETTE]
    anchors = {n: np.array(rgb, np.float64) for n, rgb in ALIGNMENT_PALETTE}
    out = pdf.copy()
    j = 0
    for i in range(0, len(out), every):
        if i in (1, 2, 4) or out.at[i, "bytes"] is None:
            continue
        color = names[j % len(names)]
        claimed = color
        if j % mismatch_every == mismatch_every - 1:
            claimed = names[(j + 3) % len(names)]  # 3 != 0 (mod 6): never equal
        px = decode_rgb(bytes(out.at[i, "bytes"]), "ppm")
        h, w = px.shape[:2]
        tinted = np.clip(
            np.rint((1.0 - tint) * px.astype(np.float64) + tint * anchors[color]),
            0,
            255,
        ).astype(np.uint8)
        out.at[i, "bytes"] = f"P6\n{w} {h}\n255\n".encode() + tinted.tobytes()
        out.at[i, "phash"] = int(spec.u64_to_i64(np.array([ahash64(tinted)]))[0])
        out.at[i, "caption"] = f"{out.at[i, 'caption']} mostly {claimed}"
        j += 1
    if len(out) > 4:
        out.at[1, "bytes"] = None
        out.at[1, "caption"] = f"{out.at[1, 'caption']} mostly red"
        out.at[2, "fmt"] = "png"
        out.at[2, "caption"] = f"{out.at[2, 'caption']} mostly green"
        b = out.at[4, "bytes"]
        if b is not None:
            px = decode_rgb(bytes(b), "ppm")
            h, w = px.shape[:2]
            zeros = np.zeros_like(px)
            out.at[4, "bytes"] = f"P6\n{w} {h}\n255\n".encode() + zeros.tobytes()
            out.at[4, "phash"] = int(spec.u64_to_i64(np.array([ahash64(zeros)]))[0])
            out.at[4, "caption"] = f"{out.at[4, 'caption']} mostly blue"
    return out


def _flip_bits(ph: np.uint64, rng: np.random.Generator, k: int) -> np.uint64:
    v = int(ph)
    for bit in rng.choice(64, size=k, replace=False):
        v ^= 1 << int(bit)
    return np.uint64(v)


AUDIO_HINT_SCHEMA = "audio_id string, bytes binary, fmt string"


def make_audio_pdf(n_rows: int, seed: int = 42) -> pd.DataFrame:
    """Deterministic audio corpus: PCM16 WAV clips (sine + noise, mono and
    stereo, varied rates) plus a sprinkling of unsupported-codec rows and
    null payloads — the quarantine path is part of the fixture."""
    from simhash_spark.operators.multimodal import encode_pcm_wav

    rng = np.random.default_rng(seed)
    rows: list[dict] = []
    for i in range(n_rows):
        if i % 10 == 7:  # compressed codec -> per-row quarantine
            rows.append({"audio_id": f"au{i:06d}", "bytes": b"\xff\xfb0fake-mp3", "fmt": "mp3"})
            continue
        if i % 10 == 3:  # null payload
            rows.append({"audio_id": f"au{i:06d}", "bytes": None, "fmt": "wav"})
            continue
        rate = int(rng.choice([8000, 16000]))
        n = int(rng.integers(rate // 5, rate))  # 0.2-1.0 s
        freq = float(rng.uniform(100, 2000))
        t = np.arange(n) / rate
        sig = 0.5 * np.sin(2 * np.pi * freq * t) + rng.normal(0, 0.01, n)
        stereo = bool(rng.integers(0, 2))
        samples = np.stack([sig, sig * 0.5], axis=1) if stereo else sig[:, None]
        rows.append(
            {
                "audio_id": f"au{i:06d}",
                "bytes": encode_pcm_wav(samples, rate),
                "fmt": "wav",
            }
        )
    return pd.DataFrame(rows)


def make_degenerate_pdf(seed: int = 7) -> pd.DataFrame:
    """F2: the dev-ex lesson (/root/reference/README.md:11) — tiny/degenerate
    inputs that broke the reference's scalability branch."""
    rng = np.random.default_rng(seed)
    rows = []
    cases = (
        [""] * 3
        + ["the of and to in"] * 2          # stop-only
        + ["word"] * 2                        # single token
        + ["identical caption here every time"] * 500  # one giant cluster / hot band
        + ["日本語だけのキャプション", "🎉🚀", "ＦＵＬＬｗｉｄｔｈ ｔｅｘｔ"]
    )
    for i, cap in enumerate(cases):
        rows.append(
            {
                "image_id": f"deg{i:06d}",
                "bytes": None,
                "w": 32,
                "h": 32,
                "fmt": "ppm",
                "caption": cap,
                "phash": int(rng.integers(-(2**62), 2**62)),
            }
        )
    return pd.DataFrame(rows)


# ----------------------------------------------------------- ground truth

def _lcs_at_least(a: str, b: str, min_len: int) -> bool:
    """True iff a and b share a common substring of length >= min_len.
    Checked via length-min_len window set intersection (exact, O(n))."""
    if len(a) < min_len or len(b) < min_len:
        return False
    wins = {a[i : i + min_len] for i in range(len(a) - min_len + 1)}
    return any(b[i : i + min_len] in wins for i in range(len(b) - min_len + 1))


def compute_truth(
    pdf: pd.DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Brute-force ground truth, independent of the Spark pipeline.

    dup(a,b) := hamming(simhash)<=r  OR  hamming(phash)<=r_p  OR  shared
    normalized substring >= L chars. Clusters = connected components
    (python union-find). Returns (truth_pairs, truth_clusters).
    """
    n = len(pdf)
    caps = pdf["caption"].fillna("").tolist()
    fp = np.zeros(n, dtype=np.uint64)
    for i, c in enumerate(caps):
        fp[i] = spec.caption_fingerprint(c, cfg.shingle_k)["simhash"]
    ph = spec.i64_to_u64(pdf["phash"].to_numpy(np.int64))

    pairs: set[tuple[int, int]] = set()
    kinds: dict[tuple[int, int], str] = {}
    # caption hamming only counts when BOTH sides have shingles (empty
    # captions share fp=0 but are not textual duplicates — frozen rule)
    has = np.array([len(spec.tokenize(c)) > 0 for c in caps])
    # all-pairs hamming, chunked numpy (n<=2e4 -> fine)
    for i0 in range(0, n, 2048):
        i1 = min(n, i0 + 2048)
        dc = spec.popcount64(fp[i0:i1, None] ^ fp[None, :])
        dp = spec.popcount64(ph[i0:i1, None] ^ ph[None, :])
        mc = (dc <= cfg.hamming_radius) & has[i0:i1, None] & has[None, :]
        mp = dp <= cfg.phash_radius
        ii, jj = np.nonzero(mc | mp)
        for di, j in zip(ii, jj):
            i = i0 + int(di)
            j = int(j)
            if i < j:
                pairs.add((i, j))
                kinds[(i, j)] = "simhash" if mc[di, j] else "phash"
    # substring truth: winnow candidates (complete by construction) + exact verify
    norm = [spec.normalize_for_substring(c) for c in caps]
    di_, _pos, ah = spec.winnow_anchors_batch(norm, cfg.substr_window, cfg.substr_min_len)
    by_anchor: dict[int, set[int]] = {}
    for d, h in zip(di_.tolist(), ah.tolist()):
        by_anchor.setdefault(h, set()).add(d)
    cand = {
        (a, b)
        for docs in by_anchor.values()
        if len(docs) > 1
        for a in docs
        for b in docs
        if a < b
    }
    for i, j in cand:
        if (i, j) not in pairs and _lcs_at_least(norm[i], norm[j], cfg.substr_min_len):
            pairs.add((i, j))
            kinds[(i, j)] = "substr"

    # union-find -> clusters labeled by min image_id
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, j in pairs:
        ri, rj = find(i), find(j)
        if ri != rj:
            parent[max(ri, rj)] = min(ri, rj)

    ids = pdf["image_id"].tolist()
    truth_pairs = pd.DataFrame(
        {
            "a": [ids[i] for i, _ in sorted(pairs)],
            "b": [ids[j] for _, j in sorted(pairs)],
            "kind": [kinds[p] for p in sorted(pairs)],
        }
    )
    truth_clusters = pd.DataFrame(
        {"image_id": ids, "cluster_id": [ids[find(i)] for i in range(n)]}
    )
    return truth_pairs, truth_clusters


def write_images_fixture(
    path: str | pathlib.Path,
    n_rows: int = 2000,
    seed: int = 42,
    with_bytes: bool = True,
    with_truth: bool = True,
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> pathlib.Path:
    """Write images.parquet (+ truth_pairs/truth_clusters) under ``path``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = pathlib.Path(path)
    path.mkdir(parents=True, exist_ok=True)
    pdf = make_images_pdf(n_rows, seed=seed, with_bytes=with_bytes)
    schema = pa.schema(
        [
            ("image_id", pa.string()),
            ("bytes", pa.binary()),
            ("w", pa.int32()),
            ("h", pa.int32()),
            ("fmt", pa.string()),
            ("caption", pa.string()),
            ("phash", pa.int64()),
        ]
    )
    pq.write_table(pa.Table.from_pandas(pdf, schema=schema, preserve_index=False), path / "images.parquet")
    if with_truth:
        tp, tc = compute_truth(pdf, cfg)
        pq.write_table(pa.Table.from_pandas(tp, preserve_index=False), path / "truth_pairs.parquet")
        pq.write_table(pa.Table.from_pandas(tc, preserve_index=False), path / "truth_clusters.parquet")
    return path
