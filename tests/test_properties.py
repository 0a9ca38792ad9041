"""T1 — property-based invariants (hypothesis), SURVEY.md §5.2.

- SimHash depends only on the TF multiset, not token order
  (/root/reference/README.md:23 semantics)
- Hamming metric axioms
- pigeonhole completeness: d(a,b) <= r  =>  >= 1 shared block-combination key
- winnowing completeness: shared normalized run >= L => shared anchor hash
- MinHash estimates Jaccard
- mulmod61 == python bigint arithmetic
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from simhash_spark import spec
from simhash_spark.config import DEFAULT_CONFIG as CFG

u64 = st.integers(min_value=0, max_value=2**64 - 1)
words = st.lists(st.text(alphabet="abcdefgh", min_size=1, max_size=6), min_size=0, max_size=30)


@given(words, st.randoms(use_true_random=False))
@settings(max_examples=60, deadline=None)
def test_simhash_order_invariant(tokens, rnd):
    shuffled = list(tokens)
    rnd.shuffle(shuffled)
    a = spec.caption_fingerprint(" ".join(tokens), CFG.shingle_k)
    b = spec.caption_fingerprint(" ".join(shuffled), CFG.shingle_k)
    if CFG.shingle_k == 1 or len(tokens) <= 1:
        assert int(a["simhash"]) == int(b["simhash"])
    # k>1 shingles ARE order sensitive; only the k=1/trivial case is invariant.


@given(u64, u64, u64)
@settings(max_examples=100, deadline=None)
def test_hamming_metric_axioms(x, y, z):
    ax = np.array([x], np.uint64)
    ay = np.array([y], np.uint64)
    az = np.array([z], np.uint64)
    dxy = int(spec.hamming64(ax, ay)[0])
    dyx = int(spec.hamming64(ay, ax)[0])
    assert dxy == dyx
    assert dxy == 0 if x == y else dxy > 0
    assert dxy <= int(spec.hamming64(ax, az)[0]) + int(spec.hamming64(az, ay)[0])
    assert dxy == bin(x ^ y).count("1")


@given(u64, st.lists(st.integers(0, 63), min_size=0, max_size=CFG.hamming_radius, unique=True))
@settings(max_examples=200, deadline=None)
def test_pigeonhole_completeness(fp, flip_bits):
    a = np.uint64(fp)
    b = a
    for bit in flip_bits:
        b = np.uint64(int(b) ^ (1 << bit))
    ka = spec.pigeonhole_keys(np.array([a]), CFG.n_blocks, CFG.hamming_radius)[0]
    kb = spec.pigeonhole_keys(np.array([b]), CFG.n_blocks, CFG.hamming_radius)[0]
    assert set(ka.tolist()) & set(kb.tolist()), (hex(int(a)), hex(int(b)))


@given(u64, st.lists(st.integers(0, 63), min_size=0, max_size=3, unique=True))
@settings(max_examples=100, deadline=None)
def test_pigeonhole_completeness_scale_config(fp, flip_bits):
    """The 10^12-row config (8 blocks, C(8,5)=56 keys) keeps the guarantee."""
    a = np.uint64(fp)
    b = np.uint64(int(a) ^ sum(1 << bit for bit in flip_bits))
    ka = spec.pigeonhole_keys(np.array([a]), 8, 3)[0]
    kb = spec.pigeonhole_keys(np.array([b]), 8, 3)[0]
    assert ka.shape == (56,)
    assert set(ka.tolist()) & set(kb.tolist())


@given(
    st.text(alphabet="ab cdefg", min_size=0, max_size=200),
    st.text(alphabet="ab cdefg", min_size=0, max_size=200),
    st.text(alphabet="xyz uvw", min_size=60, max_size=120),
)
@settings(max_examples=60, deadline=None)
def test_winnowing_completeness(prefix_a, prefix_b, shared):
    w, L = CFG.substr_window, CFG.substr_min_len
    ta = spec.normalize_for_substring(prefix_a + " " + shared)
    tb = spec.normalize_for_substring(prefix_b + " " + shared)
    norm_shared = spec.normalize_for_substring(shared)
    if len(norm_shared) < L:
        return
    di, pos, ah = spec.winnow_anchors_batch([ta, tb], w, L)
    seen = {}
    shared_hash = False
    for d, h in zip(di, ah):
        seen.setdefault(int(h), set()).add(int(d))
        if len(seen[int(h)]) == 2:
            shared_hash = True
    assert shared_hash, (ta, tb)


@given(st.sets(u64, min_size=1, max_size=80), st.sets(u64, min_size=1, max_size=80))
@settings(max_examples=30, deadline=None)
def test_minhash_estimates_jaccard(sa, sb):
    a, b = spec.minhash_params(CFG.n_perm, CFG.minhash_seed)
    ha = np.array(sorted(sa), np.uint64)
    hb = np.array(sorted(sb), np.uint64)
    siga = spec.minhash_batch(np.array([0, len(ha)]), ha, 1, a, b)[0]
    sigb = spec.minhash_batch(np.array([0, len(hb)]), hb, 1, a, b)[0]
    est = float((siga == sigb).mean())
    true_j = len(sa & sb) / len(sa | sb)
    assert abs(est - true_j) < 0.35  # 128 perms -> sd ~ sqrt(j(1-j)/128) <= 0.045
    if sa == sb:
        assert est == 1.0


@given(st.integers(0, 2**61 - 2), st.integers(0, 2**61 - 2))
@settings(max_examples=200, deadline=None)
def test_mulmod61_vs_bigint(a, x):
    got = int(spec.mulmod61(np.uint64(a), np.array([x], np.uint64))[0])
    assert got == (a * x) % (2**61 - 1)


@given(st.lists(st.text(alphabet="abc def", max_size=50), min_size=0, max_size=8))
@settings(max_examples=50, deadline=None)
def test_fnv_batch_equals_per_string(strs):
    batch = spec.fnv1a64_str(strs)
    for i, s in enumerate(strs):
        single = spec.fnv1a64_str([s])[0]
        assert int(batch[i]) == int(single)


def test_srp_multiprobe_covers_hamming1():
    """Any two SRP signatures within Hamming 1 (same table) share >= 1 probe:
    probes(s) = {s} ∪ {s^bit_j}, so s' = s^e collides at probe s' itself or
    at s (flipping e back). Table tags in the high bits never collide."""
    import numpy as np

    n_planes = 8
    rng = np.random.default_rng(3)
    for _ in range(50):
        table = int(rng.integers(0, 4))
        s = (table << n_planes) | int(rng.integers(0, 1 << n_planes))
        probes_s = {s} | {s ^ (1 << j) for j in range(n_planes)}
        e = int(rng.integers(0, n_planes))
        s2 = s ^ (1 << e)
        probes_s2 = {s2} | {s2 ^ (1 << j) for j in range(n_planes)}
        assert probes_s & probes_s2
        other_table = ((table + 1) % 4) << n_planes
        assert not (probes_s & {other_table | (s & ((1 << n_planes) - 1))}) or table == (table + 1) % 4


@given(
    st.text(alphabet="ab ", min_size=0, max_size=120),
    st.text(alphabet="ab ", min_size=0, max_size=120),
    st.integers(min_value=2, max_value=12),
)
@settings(max_examples=200, deadline=None)
def test_shares_run_matches_bruteforce(a, b, min_len):
    from simhash_spark.operators.substring import _shares_run

    brute = any(
        a[i : i + min_len] in b
        for i in range(max(len(a) - min_len + 1, 0))
        if len(a[i : i + min_len]) == min_len
    )
    assert _shares_run(a, b, min_len) == brute


@given(
    st.text(alphabet="ab ", min_size=0, max_size=120),
    st.text(alphabet="ab ", min_size=0, max_size=120),
    st.integers(min_value=2, max_value=12),
)
@settings(max_examples=200, deadline=None)
def test_pair_shares_run_matches_setwise(a, b, min_len):
    """The vectorized rolling-hash verifier (r3 hot path) computes exactly
    the _shares_run predicate — same inputs space as the brute-force gate."""
    from simhash_spark.operators.substring import (
        _pair_shares_run,
        _shares_run,
        _window_hash_index,
    )

    ia = _window_hash_index(a, min_len)
    ib = _window_hash_index(b, min_len)
    assert _pair_shares_run(a, b, ia, ib, min_len) == _shares_run(a, b, min_len)


@st.composite
def _run_sharing_docs(draw):
    """Two texts over a small alphabet that often share a cut of one common
    string — anywhere, including flush with either end — plus (min_len, w).
    Small alphabets make periodic texts, so one anchor repeats in a doc;
    texts may be shorter than min_len."""
    alphabet = draw(st.sampled_from(["a", "ab", "ab ", "abc d"]))
    shared = draw(st.text(alphabet=alphabet, max_size=60))

    def doc() -> str:
        i = draw(st.integers(0, len(shared)))
        j = draw(st.integers(i, len(shared)))
        pad = st.text(alphabet=alphabet, max_size=20)
        return draw(pad) + shared[i:j] + draw(pad)

    min_len = draw(st.integers(min_value=2, max_value=14))
    return doc(), doc(), min_len, draw(st.integers(min_value=1, max_value=min_len - 1))


@given(_run_sharing_docs())
@settings(max_examples=400, deadline=None)
def test_anchor_context_predicate_matches_shares_run(docs):
    """Verification at the anchor is exact: two texts share a run >= L iff
    some anchor they share has occurrences whose contexts (udfs.
    winnow_contexts) pass the context predicate (mirror.context_shares_run,
    the twin of substring._shared_runs)."""
    from mirror import context_shares_run

    from simhash_spark.functions.udfs import winnow_contexts
    from simhash_spark.operators.substring import _shares_run

    a, b, min_len, w = docs
    occ_a, occ_b = winnow_contexts([a, b], w, min_len)
    at_anchor = any(
        ha == hb and context_shares_run(la, ca, lb, cb, min_len)
        for ha, la, ca in occ_a
        for hb, lb, cb in occ_b
    )
    assert at_anchor == _shares_run(a, b, min_len)


@given(
    st.integers(min_value=1, max_value=3),
    st.integers(min_value=1, max_value=500),
    st.integers(min_value=4000, max_value=48000),
    st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(max_examples=50, deadline=None)
def test_wav_roundtrip_property(n_channels, n_samples, rate, seed):
    import numpy as np

    from simhash_spark.operators.multimodal import decode_pcm_wav, encode_pcm_wav

    rng = np.random.default_rng(seed)
    samples = rng.uniform(-1.0, 1.0, size=(n_samples, n_channels))
    decoded, got_rate = decode_pcm_wav(encode_pcm_wav(samples, rate))
    assert got_rate == rate
    assert decoded.shape == (n_samples, n_channels)
    assert np.max(np.abs(decoded - np.clip(samples, -1, 32767 / 32768))) <= 1.5 / 32768
