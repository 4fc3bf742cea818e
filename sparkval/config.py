"""Engine configuration — the analog of ``ButteraugliParams``.

Reference: /root/reference/butteraugli/src/lib.rs:374-381 (params),
lib.rs:495-518 (validation), README.md:50-62 (score thresholds:
score < 1.0 imperceptible / GOOD, > 2.0 clearly visible / BAD).
"""

from __future__ import annotations

from dataclasses import dataclass, field, fields

# Score interpretation thresholds (reference README.md:50-62 and
# lib.rs:548-551): below GOOD the snapshot "looks identical" to the
# baseline; above BAD the drift is "clearly visible".
GOOD_QUALITY_SCORE = 1.0
BAD_QUALITY_SCORE = 2.0

#: Fixed language vocabulary for the lang-distribution channel.
#: Order matters: lang_hist bins are indexed by this list.
LANG_VOCAB = ["c", "go", "js", "md", "python", "rust", "toml", "txt", "other"]

#: Number of byte-frequency bins (full byte alphabet).
BYTE_BINS = 256
#: Number of log2-length bins (lengths bucketed by floor(log2(len+1)), cap 63).
LEN_BINS = 64


@dataclass(frozen=True)
class ValidationConfig:
    """Query parameters for a validation run.

    ``hf_asymmetry`` mirrors ButteraugliParams.hf_asymmetry
    (lib.rs:374-381): >1 penalizes *appearing* mass (new bytes/langs —
    the "ringing artifact" side) more than *disappearing* mass
    ("blur" side).
    """

    hf_asymmetry: float = 1.0
    xmul: float = 1.0
    # ButteraugliParams.intensity_target analog (lib.rs:43-57,
    # opsin.rs:208-213): nits corresponding to full intensity; scales
    # the normalized histogram mass before the opsin gamma pass as
    # factor = intensity_target / 80.0. 80.0 (the SDR default) is the
    # calibrated identity scale the golden corpus pins; raising it
    # makes the compressive gamma treat the same mass as brighter
    # (HDR-display analog), shifting band sensitivities. Applied at
    # compare time only: a baseline is the same under any target.
    intensity_target: float = 80.0
    # Skip the half-resolution (bin-halved) pass — ~25% cheaper,
    # loses the ~15%-weight coarse component (lib.rs:466-481).
    # Compare-time only, like intensity_target.
    single_resolution: bool = False
    # Emit the per-bin drift map alongside the scalar score
    # (compute_diffmap, lib.rs:374-381).
    compute_driftmap: bool = False
    good_score: float = GOOD_QUALITY_SCORE
    bad_score: float = BAD_QUALITY_SCORE
    # Partitioning of checks: per (repo_bucket, lang) by default.
    n_repo_buckets: int = 16
    # Minimum files per partition for a full-strength drift verdict;
    # smaller partitions are scored but flagged low-confidence
    # (analog of reflect-padding tiny images, lib.rs:209-227).
    min_partition_rows: int = 8
    # sha256-equality short-circuit (diff.rs:766-772): skip the drift
    # kernel for partitions whose content fingerprint set is unchanged.
    short_circuit_identical: bool = True

    @property
    def intensity_factor(self) -> float:
        return self.intensity_target / 80.0

    def validate(self) -> None:
        """Reject nonsensical parameters (analog of lib.rs:495-518)."""
        if not (0.0 < self.hf_asymmetry < 100.0):
            raise ValueError(f"hf_asymmetry out of range: {self.hf_asymmetry}")
        if not (0.0 < self.xmul < 1000.0):
            raise ValueError(f"xmul out of range: {self.xmul}")
        if not (0.0 < self.intensity_target <= 10000.0):
            raise ValueError(
                f"intensity_target out of range: {self.intensity_target}"
            )
        if self.good_score <= 0 or self.bad_score <= self.good_score:
            raise ValueError(
                f"need 0 < good_score < bad_score, got {self.good_score}, {self.bad_score}"
            )
        if self.n_repo_buckets < 1 or self.n_repo_buckets > 1 << 20:
            raise ValueError(f"n_repo_buckets out of range: {self.n_repo_buckets}")
        if self.min_partition_rows < 1:
            raise ValueError("min_partition_rows must be >= 1")
        for f in fields(self):
            v = getattr(self, f.name)
            if isinstance(v, float) and (v != v or v in (float("inf"), float("-inf"))):
                raise ValueError(f"non-finite config value {f.name}={v}")


DEFAULT_CONFIG = ValidationConfig()
