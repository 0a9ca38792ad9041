"""Pipeline configuration — the frozen shingle/signature config.

BASELINE.json requires bit-for-bit fingerprint reproduction "at the same
shingle/signature config"; this dataclass IS that config. The defaults are
the frozen canonical spec (SURVEY.md §7.1) that tests/vectors.json was
generated with. Changing a default invalidates the vectors — don't.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class PipelineConfig:
    # --- tokenizer / shingling (SURVEY.md §7.1) ---
    shingle_k: int = 3            # k consecutive tokens per shingle; k=1 == reference word scheme
    # --- MinHash (Broder'97; banding per MMDS ch.3) ---
    n_perm: int = 128             # permutations
    n_bands: int = 32             # bands
    band_rows: int = 4            # rows per band (n_perm = n_bands * band_rows)
    minhash_seed: int = 42        # rng seed for (a, b) coefficient draw
    # --- SimHash pigeonhole rotation index (Manku'07 §3) ---
    hamming_radius: int = 3       # verified Hamming threshold on simhash
    n_blocks: int = 4             # bit blocks the 64-bit fp is split into
    # key = combination of (n_blocks - hamming_radius) blocks; with the
    # default (4, 3) that is the classic 4 single-block rotation tables.
    # Scale config for 10^12 rows: n_blocks=8 -> C(8,5)=56 tables of 40-bit
    # keys, expected bucket size n/2^40 (see operators/candidates.py).
    phash_radius: int = 3         # Hamming threshold on the stored pHash
    # --- substring stage (winnowing anchors + exact shared-run verify) ---
    substr_min_len: int = 48      # L: min shared-substring chars to report
    substr_window: int = 24       # w: char w-gram size (anchor unit)
    # winnowing guarantee: any shared run of >= w + s - 1 = L chars shares
    # an anchor, s = L - w + 1
    # --- skew / hot-bucket handling ---
    bucket_cap: int = 256         # max rows per bucket (candidate key, anchor) expanded
                                  # to all pairs; larger buckets chain in id order
    # execution-level knobs (shuffle partitions, Arrow batch size) live on
    # the SparkSession (session.get_spark), not here: they tune a deployment,
    # not the frozen algorithm contract.

    @property
    def block_bits(self) -> int:
        return 64 // self.n_blocks

    def __post_init__(self) -> None:
        if self.n_perm != self.n_bands * self.band_rows:
            raise ValueError("n_perm must equal n_bands * band_rows")
        if 64 % self.n_blocks != 0:
            raise ValueError("n_blocks must divide 64")
        if self.n_blocks <= self.hamming_radius:
            raise ValueError("need n_blocks > hamming_radius for the pigeonhole guarantee")
        if self.substr_window >= self.substr_min_len:
            raise ValueError("substr_window must be < substr_min_len")


DEFAULT_CONFIG = PipelineConfig()


def config_fingerprint(cfg: PipelineConfig) -> str:
    """Short stable hash of the full config — goes into stage checkpoint
    fingerprints so a rerun with a DIFFERENT config (e.g. n_blocks=8)
    cannot silently reuse stages computed under the old one."""
    import hashlib
    from dataclasses import asdict

    payload = repr(sorted(asdict(cfg).items()))
    return hashlib.sha256(payload.encode()).hexdigest()[:10]


def index_config_for(n_rows: int, base: PipelineConfig = DEFAULT_CONFIG) -> PipelineConfig:
    """Pick the pigeonhole block count for the corpus size.

    The rotation index is only sub-quadratic while random bucket collisions
    stay rare: with ``C(n_blocks, n_blocks - r)`` tables of
    ``block_bits * (n_blocks - r)``-bit keys, expected accidental candidate
    pairs are ~ n^2 * combos / 2^keybits. The default 4-block config has
    16-bit keys — fine to ~10^5 rows, but measured 12.6x pair growth for a
    4x corpus growth at 240k rows (quadratic regime). 8 blocks -> C(8,5)=56
    tables of 40-bit keys holds the random-pair count sub-linear to ~5x10^9
    rows; 16 blocks -> C(16,13)=560 tables of 52-bit keys covers the 10^12
    design point. The pigeonhole completeness guarantee (any pair within
    Hamming r shares >= 1 clean block combination) holds for every
    n_blocks > r, so recall is unaffected — only the candidate volume and
    key-generation cost trade off.

    Threshold placement: 8 blocks multiplies index entries 2.1x (68 -> 144
    per row) while removing the ~n^2 * 4.5/2^16 random pairs; measured on
    the bench corpus, the 4-block index is still ~3x faster end-to-end at
    240k rows, and the crossover lands near 10^6 rows (by 3x10^6 the
    4-block random pairs alone exceed 600M and 8 blocks wins outright).

    The DEFAULT config stays at 4 blocks because the frozen sf0.01 oracle
    outputs (tests/expected/) and small-corpus tests are pinned to it.
    """
    from dataclasses import replace

    if n_rows < 1_000_000:
        nb = 4
    elif n_rows < 5_000_000_000:
        nb = 8
    else:
        nb = 16
    return base if nb == base.n_blocks else replace(base, n_blocks=nb)
