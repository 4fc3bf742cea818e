"""Pure-numpy drift kernels — butteraugli's pipeline recast to 1-D.

This module is BOTH the production kernel (called from the grouped-map
pandas UDF in sparkval.drift) and the golden oracle (tests pin ITS
numbers, as the reference pinned C++ butteraugli_main's — see
reference tests/reference_parity.rs discipline).

The recast, stage by stage (reference file:line for each source
concept; this is a re-expression of the published butteraugli math
over histograms, not a port of the Rust code):

  2-D image plane            ->  1-D distribution vector (histogram)
  sRGB->linear + opsin gamma ->  count normalization + log-compressive
                                 gamma (opsin.rs:102-112 constants)
  adaptive local sensitivity ->  blur(sigma=1.2) sensitivity scaling
                                 (opsin.rs:154-251)
  LF/MF/HF/UHF via chained   ->  same chained 1-D Gaussian DoG bands,
  Gaussian blurs             ->  sigmas from consts.rs:56-61
  16-orientation Malta line  ->  multi-width windowed run detector
  filter (malta.rs)          ->  (coherent multi-bin drift vs isolated
                                 single-bin noise), widths 9 and
                                 sparse-5, same 0.55/1.05 asymmetry
                                 (malta.rs:1317-1318) and mulli
                                 weights (malta.rs:1357-1360)
  asymmetric L2 (blur vs     ->  disappearing-mass vs appearing-mass
  artifact, diff.rs:184-225) ->  penalty, same 0.4/0.8 constants
  visual masking             ->  tolerance field from baseline local
  (mask.rs:348-385)          ->  activity: blur(2.7) + fuzzy erosion
  max-norm + 3/6/12-norm     ->  identical fused reduction in f64
  (diff.rs:485-548)          ->  (precision lesson: diff.rs:494-499)
  half-resolution blend      ->  bin-pair-mean coarse pass blended at
  (diff.rs:666-695)          ->  0.5 weight, 0.3 mixing
                                 (diff.rs:82-112)

All arrays are float64 end-to-end (the reference's f32 planes with f64
reduction; we can afford f64 everywhere because vectors are <=256 bins).
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------------------
# Constants lifted from the reference (consts.rs / opsin.rs / malta.rs /
# diff.rs) — semantics, not code. Each cited at its definition site.
# ---------------------------------------------------------------------------

# Band-split sigmas (consts.rs:56-61)
SIGMA_LF = 7.15593339443
SIGMA_HF = 3.22489901262
SIGMA_UHF = 1.56416327805
SIGMA_OPSIN = 1.2          # opsin pre-blur (opsin.rs:154-251, blur_mirrored_5x5)
SIGMA_MASK = 2.7           # MASK_RADIUS (consts.rs:137)

# Opsin gamma (opsin.rs:102-112): gamma(v) = RET_MUL*ln(v+BIAS) + RET_ADD
GAMMA_RET_MUL = 19.245013259874995
GAMMA_RET_ADD = -23.16046239805755
GAMMA_BIAS = 9.9710635769299145

# Opsin absorbance mixing matrix + biases (opsin.rs:20-33) and the
# clamp floors (opsin.rs:36-37 — the channel biases themselves)
OPSIN_MIX = np.array([
    [0.29956550340058319, 0.63373087833825936, 0.077705617820981968],
    [0.22158691104574774, 0.69391388044116142, 0.0987313588422],
    [0.02, 0.02, 0.20480129041026129],
])
OPSIN_BIAS = np.array([1.7557483643287353, 1.7557483643287353, 12.226454707163354])
OPSIN_MIN = np.array([1.7557483643287353, 1.7557483643287353, 12.226454707163354])
OPSIN_MIN_VAL = 1e-4       # sensitivity/premix floor (opsin.rs:173)

# Band gates (consts.rs:66-86)
REMOVE_MF_RANGE = 0.29
ADD_MF_RANGE = 0.1
REMOVE_HF_RANGE = 1.5
ADD_HF_RANGE = 0.132
REMOVE_UHF_RANGE = 0.04
MAXCLAMP_HF = 28.4691806922
MAXCLAMP_UHF = 5.19175294647
MUL_Y_HF = 2.155
MUL_Y_UHF = 2.69313763794

# Malta weights/norms (consts.rs:13-37) and asymmetry (malta.rs:1317-1318)
W_MF_MALTA, NORM1_MF = 37.0819870399, 130_262_059.556
W_HF_MALTA, NORM1_HF = 18.7237414387, 4_498_534.45232
W_UHF_MALTA, NORM1_UHF = 1.10039032555, 71.7800275169
MALTA_TOO_SMALL = 0.55
MALTA_TOO_BIG = 1.05
MULLI_LF = 0.611612573796  # malta.rs:1358
MULLI_HF = 0.39905817637   # malta.rs:1360

# Frequency-band combination weights (consts.rs:40-50). In the
# reference these index [UHF-X, UHF-Y, ., HF-X, HF-Y, MF(B), DC-X,
# DC-Y, DC-B]; the recast maps X/Y/B to the lang/byte/len channels.
WMUL = np.array([
    400.0, 1.50815703118, 0.0, 2150.0, 10.6195433239, 16.2176043152,
    29.2353797994, 0.844626970982, 0.703646627719,
])

# Asymmetric L2 (diff.rs:184-225)
ASYM_LOW = 0.4
ASYM_W = 0.8

# Cross-channel suppression (psycho.rs:192-207, consts.rs:106-108)
SUPPRESS_XY = 46.0
SUPPRESS_S = 0.653020556257

# Masking curve (consts.rs:128-151)
MASK_MUL = 6.19424080439
MASK_BIAS = 12.61050594197
MASK_TO_ERROR_MUL = 10.0
MASK_Y_OFFSET = 0.829591754942
MASK_Y_SCALER = 0.451936922203
MASK_Y_MUL = 2.5485944793
MASK_DC_Y_OFFSET = 0.20025578522
MASK_DC_Y_SCALER = 3.87449418804
MASK_DC_Y_MUL = 0.505054525019
COMBINE_CHANNELS_MULS = (2.5, 0.4, 0.4)  # (UHF, HF, reserved)

# Score scale (consts.rs:113-121): GOOD=1.0 / BAD=2.0 live on this scale
INTENSITY_TARGET_NORMALIZATION = 0.79079917
GLOBAL_SCALE = 1.0 / (17.83 * INTENSITY_TARGET_NORMALIZATION)

# Half-resolution blend (diff.rs:82-112, weight diff.rs:666-695)
HEURISTIC_MIXING = 0.3
HALFRES_WEIGHT = 0.5

# Recast-specific: histogram mass -> "intensity". A uniform
# distribution maps to mid-gray 127.5 so the reference's gamma/gate
# constants operate in their designed numeric range.
INTENSITY_MID = 127.5

# Recast-specific output calibration (the engine's own golden scale,
# like the reference's GLOBAL_SCALE): chosen so that sub-percent
# incidental drift (1% nullify / 1% lang relabel / epsilon noise on an
# already-uniform byte distribution) scores < GOOD=1.0 while corpus-
# level distribution changes (quantize, shift, heavy langswap) score
# >> BAD=2.0 on the fixture zoo. Golden tests pin scores ON this scale.
DRIFT_OUTPUT_SCALE = 0.25


# ---------------------------------------------------------------------------
# Window/stencil kernels (SURVEY §2.3)
# ---------------------------------------------------------------------------

def gaussian_kernel(sigma: float) -> np.ndarray:
    """Un-normalized Gaussian FIR taps, halfwidth floor(2.25*sigma)
    (blur.rs:46-69)."""
    hw = max(1, int(2.25 * sigma))
    x = np.arange(-hw, hw + 1, dtype=np.float64)
    return np.exp(-(x * x) / (2.0 * sigma * sigma))


def blur1d(v: np.ndarray, sigma: float) -> np.ndarray:
    """Clamp-to-edge separable blur with border re-normalization
    (blur.rs:78-145): near edges, divide by the sum of in-bounds taps
    so the local mean is preserved instead of darkening.

    Axis-polymorphic over the LAST axis — a (rows, bins) matrix blurs
    every row in one vectorized tap loop (round-4 verdict #7: the
    drift kernel scores O(buckets x langs) rows per batch, and per-row
    numpy-call overhead was the only per-row Python left in the hot
    path). A row processed alone is bit-identical to the same row
    inside a batch: every tap update is element-independent."""
    k = gaussian_kernel(sigma)
    v = np.asarray(v, dtype=np.float64)
    n = v.shape[-1]
    hw = (len(k) - 1) // 2
    pad = [(0, 0)] * (v.ndim - 1) + [(hw, hw)]
    p = np.pad(v, pad, mode="constant")
    out = np.zeros_like(v)
    # k is symmetric, so the correlation tap loop equals convolution
    for t in range(len(k)):
        out += k[t] * p[..., t : t + n]
    ones = np.pad(np.ones(n), (hw, hw), mode="constant")
    den = np.zeros(n)
    for t in range(len(k)):
        den += k[t] * ones[t : t + n]
    return out / den


def blur1d_mirror(v: np.ndarray, sigma: float) -> np.ndarray:
    """Mirrored-boundary blur with normalized taps — the opsin
    pre-blur (blur_mirrored_5x5, blur.rs:1240-1258: x<0 -> -x-1, i.e.
    the edge sample IS repeated => np.pad mode='symmetric'; weights
    normalized to sum 1, compute_separable5_weights blur.rs:26-39).
    Unlike blur1d there is no border re-normalization: mirrored
    samples supply the mass. Axis-polymorphic over the last axis."""
    k = gaussian_kernel(sigma)
    k = k / k.sum()
    v = np.asarray(v, dtype=np.float64)
    n = v.shape[-1]
    hw = (len(k) - 1) // 2
    pad = [(0, 0)] * (v.ndim - 1) + [(hw, hw)]
    padded = np.pad(v, pad, mode="symmetric")
    out = np.zeros_like(v)
    for t in range(len(k)):  # symmetric k: correlation == convolution
        out += k[t] * padded[..., t : t + n]
    return out


def fuzzy_erosion_1d(v: np.ndarray, offset: int = 3) -> np.ndarray:
    """Weighted 3-smallest of {x-offset, x, x+offset} (mask.rs:110-149:
    0.45*min0 + 0.3*min1 + 0.25*min2), edges clamped. Last-axis
    polymorphic."""
    v = np.asarray(v, dtype=np.float64)
    n = v.shape[-1]
    idx = np.arange(n)
    stack = np.stack([
        np.take(v, np.clip(idx - offset, 0, n - 1), axis=-1),
        v,
        np.take(v, np.clip(idx + offset, 0, n - 1), axis=-1),
    ])
    s = np.sort(stack, axis=0)
    return 0.45 * s[0] + 0.3 * s[1] + 0.25 * s[2]


# ---------------------------------------------------------------------------
# Per-element transforms (SURVEY §2.2)
# ---------------------------------------------------------------------------

def gamma(v: np.ndarray) -> np.ndarray:
    """Compressive nonlinearity (opsin.rs:102-112)."""
    return GAMMA_RET_MUL * np.log(np.maximum(v, 0.0) + GAMMA_BIAS) + GAMMA_RET_ADD


def opsin_absorbance(
    r: np.ndarray, g: np.ndarray, b: np.ndarray, clamp: bool = True
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """3x4 affine channel mixing (opsin_absorbance, opsin.rs:127-137):
    out_i = MIX[i]·(r,g,b) + BIAS[i], optionally floored at the channel
    bias (MIN_01/MIN_2, opsin.rs:36-37). Element-wise over equal-length
    vectors (the reference applies it per-pixel)."""
    r = np.asarray(r, dtype=np.float64)
    g = np.asarray(g, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    out = tuple(
        OPSIN_MIX[i, 0] * r + OPSIN_MIX[i, 1] * g + OPSIN_MIX[i, 2] * b + OPSIN_BIAS[i]
        for i in range(3)
    )
    if clamp:
        out = tuple(np.maximum(o, OPSIN_MIN[i]) for i, o in enumerate(out))
    return out


def opsin_dynamics_triple(
    r: np.ndarray, g: np.ndarray, b: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Full opsin dynamics over a CO-LOCATED equal-length channel
    triple — the faithful opsin_dynamics_image recast (opsin.rs:154-251):

      1. blur each plane (sigma 1.2, mirrored boundaries)
      2. pre-mix the blurred triple, floor at (MIN_01, MIN_01, MIN_2)
         and 1e-4 (opsin.rs:217-229)
      3. sensitivity_i = max(gamma(pre_i)/pre_i, 1e-4) (opsin.rs:231-233)
      4. mix the SHARP triple, scale by sensitivity, floor again
         (opsin.rs:237-239)
      5. opponent rotation X = c0-c1, Y = c0+c1, B = c2 (opsin.rs:241-243)

    The default drift pipeline instead treats the lang/byte/len
    histogram families as already-mixed independent channels (identity
    mixing — the survey-sanctioned recast: the families have different
    bin counts and no per-bin co-location, so a cross-family linear mix
    is undefined). Use this path when three same-binning distributions
    of one partition ARE co-located per bin — e.g. byte-class
    histograms of three sub-populations — and opponent decorrelation
    (difference/sum channels) is wanted before band decomposition."""
    pre = opsin_absorbance(
        blur1d_mirror(np.asarray(r, dtype=np.float64), SIGMA_OPSIN),
        blur1d_mirror(np.asarray(g, dtype=np.float64), SIGMA_OPSIN),
        blur1d_mirror(np.asarray(b, dtype=np.float64), SIGMA_OPSIN),
        clamp=True,
    )
    pre = tuple(np.maximum(p, OPSIN_MIN_VAL) for p in pre)
    sens = tuple(np.maximum(gamma(p) / p, OPSIN_MIN_VAL) for p in pre)
    cur = opsin_absorbance(r, g, b, clamp=False)
    cur = tuple(
        np.maximum(c * s, OPSIN_MIN[i]) for i, (c, s) in enumerate(zip(cur, sens))
    )
    return cur[0] - cur[1], cur[0] + cur[1], cur[2]


def opsin_dynamics(v: np.ndarray) -> np.ndarray:
    """Adaptive normalization (opsin.rs:154-251): smooth, compute
    sensitivity = gamma(smoothed)/smoothed, scale the raw signal.
    Makes drift sensitivity scale-free w.r.t. local mass."""
    # Floor the smoothed signal at 1.0 — the analog of opsin_absorbance
    # clamping outputs to minimum bias values (opsin.rs:127-137): keeps
    # sensitivity = gamma(x)/x bounded (<= gamma(1) ~ 22.9) so the first
    # epsilon of mass in an empty histogram region cannot dominate the
    # score and break monotonicity in distortion amplitude.
    # Mirrored boundaries (not clamp+renorm): the reference uses the
    # dedicated blur_mirrored_5x5 for exactly this sigma-1.2 pre-blur.
    blurred = np.maximum(blur1d_mirror(v, SIGMA_OPSIN), 1.0)
    sensitivity = gamma(blurred) / blurred
    return v * sensitivity


def remove_range_around_zero(v: np.ndarray, r: float) -> np.ndarray:
    """Noise gate (psycho.rs:120-128): shrink toward 0 by r."""
    return np.sign(v) * np.maximum(np.abs(v) - r, 0.0)


def amplify_range_around_zero(v: np.ndarray, r: float) -> np.ndarray:
    """Boost small values x2 up to r (psycho.rs:135-143)."""
    return v + np.sign(v) * np.minimum(np.abs(v), r)


def maximum_clamp(v: np.ndarray, m: float) -> np.ndarray:
    """Soft-clip beyond +-m with slope 0.724 (psycho.rs:150-159)."""
    a = np.abs(v)
    return np.where(a > m, np.sign(v) * (m + 0.724 * (a - m)), v)


# ---------------------------------------------------------------------------
# Multi-band decomposition (SURVEY §2.6, psycho.rs:520-536)
# ---------------------------------------------------------------------------

def separate_frequencies(v: np.ndarray, full_bands: bool = True) -> dict[str, np.ndarray]:
    """DoG band pyramid: LF = blur(sigma_LF); MF = v - LF;
    HF = MF - blur(MF, sigma_HF); UHF = HF - blur(HF, sigma_UHF).
    Gates and clamps per band mirror psycho.rs:351-514. When
    ``full_bands`` is False the channel stops at MF (the B-channel
    rule, psycho.rs:25-27)."""
    lf = blur1d(v, SIGMA_LF)
    mf = v - lf
    if not full_bands:
        mf = remove_range_around_zero(mf, REMOVE_MF_RANGE)
        z = np.zeros_like(v)
        return {"lf": lf, "mf": mf, "hf": z, "uhf": z}
    hf = mf - blur1d(mf, SIGMA_HF)
    mf = amplify_range_around_zero(
        remove_range_around_zero(mf, REMOVE_MF_RANGE), ADD_MF_RANGE
    )
    uhf = hf - blur1d(hf, SIGMA_UHF)
    hf = maximum_clamp(
        amplify_range_around_zero(
            remove_range_around_zero(hf, REMOVE_HF_RANGE), ADD_HF_RANGE
        ),
        MAXCLAMP_HF,
    ) * MUL_Y_HF
    uhf = maximum_clamp(
        remove_range_around_zero(uhf, REMOVE_UHF_RANGE), MAXCLAMP_UHF
    ) * MUL_Y_UHF
    return {"lf": lf, "mf": mf, "hf": hf, "uhf": uhf}


# ---------------------------------------------------------------------------
# Malta-1d: coherent-run detector (SURVEY §2.3, malta.rs:1276-1422)
# ---------------------------------------------------------------------------

def _window_sums(d: np.ndarray, length: int, stride: int) -> np.ndarray:
    """Centered windowed sums of width `length` sampled at `stride`
    (the 1-D collapse of the 16 oriented line kernels: orientations
    become window phase/stride). Last-axis polymorphic."""
    half = (length - 1) // 2 * stride
    n = d.shape[-1]
    padw = [(0, 0)] * (d.ndim - 1) + [(half, half)]
    pad = np.pad(d, padw, mode="constant")  # malta.rs:1380-1407 zero-pad trick
    out = np.zeros_like(d)
    for j in range(-(length - 1) // 2, (length - 1) // 2 + 1):
        out += pad[..., half + j * stride : half + j * stride + n]
    return out


def malta_diff_1d(v0: np.ndarray, v1: np.ndarray, w: float, norm1: float,
                  use_lf: bool = False) -> np.ndarray:
    """Branch-free scaled asymmetric diff (malta.rs:1295-1328) followed
    by multi-width window sums squared (the run detector).

    Scaled diff: d = (v1-v0) / max(0.5*(|v0|+|v1|), 1), then penalize
    below-0.55*|v0| and above-1.05*|v0| asymmetrically via the local
    norm — drift must be coherent across neighboring bins to score."""
    fabs0 = np.abs(v0)
    too_small = MALTA_TOO_SMALL * fabs0
    too_big = MALTA_TOO_BIG * fabs0
    fabs1 = np.abs(v1)
    # per-row scaler (keepdims broadcasts over the bin axis)
    scaler = norm1 / (norm1 + np.mean((v1 - v0) ** 2, axis=-1, keepdims=True))
    d = np.where(
        fabs1 < too_small, (too_small - fabs1),
        np.where(fabs1 > too_big, (fabs1 - too_big), 0.0),
    ) * np.sign(v1 - v0) + (v1 - v0)
    d = d * scaler

    mulli = MULLI_LF if use_lf else MULLI_HF
    if use_lf:
        widths = [(5, 2)]  # sparse 5-sample stride-2 lines (malta.rs:318-482)
    else:
        widths = [(9, 1), (5, 1)]  # dense 9- and 5-sample lines
    out = np.zeros_like(d)
    for length, stride in widths:
        wpre = mulli * np.sqrt(w) / (2.0 * ((length - 1) // 2) + 1.0)
        s = _window_sums(d, length, stride) * wpre
        out += s * s
    return out


# ---------------------------------------------------------------------------
# Difference + masking + combination (SURVEY §2.7)
# ---------------------------------------------------------------------------

def l2_diff(a: np.ndarray, b: np.ndarray, w: float) -> np.ndarray:
    """diff += w*(a-b)^2 (diff.rs:131-145)."""
    return w * (a - b) ** 2


def suppress_x_by_y(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Attenuate x where y is large (psycho.rs:192-207):
    x *= s + (1-s)*yw/(y^2+yw). In the recast: secondary-channel drift
    (lang / len) is partially masked where the primary byte-frequency
    drift already dominates at the same relative position — the same
    chroma-suppressed-by-luma semantics."""
    yw = SUPPRESS_XY
    scaler = SUPPRESS_S + (1.0 - SUPPRESS_S) * yw / (y * y + yw)
    return x * scaler


def l2_diff_asymmetric(a: np.ndarray, b: np.ndarray, w: float, asym: float) -> np.ndarray:
    """Blur-vs-artifact asymmetry (diff.rs:184-225 recast per the
    north rule): band mass APPEARING in the snapshot that the baseline
    lacked (new bytes/langs = 'ringing artifacts') is weighted by
    w*asym; mass DISAPPEARING ('blur') enters only below the 0.4*|a|
    dead-zone of the reference's penalty term, weighted w/asym.
    Constants 0.4 (ASYM_LOW) and 0.8 (ASYM_W) preserved."""
    sym = (a - b) ** 2
    appearing = np.maximum(np.abs(b) - np.abs(a), 0.0)
    # blur fires once the snapshot drops below 40% of baseline band mass
    blur = np.maximum(ASYM_LOW * np.abs(a) - np.sign(a) * b, 0.0)
    return w * ASYM_W * (sym + asym * appearing**2 + blur**2 / asym)


def _mask_curve(delta: np.ndarray, offset: float, scaler: float, mul: float) -> np.ndarray:
    """mask value -> multiplier (mask.rs:292-306):
    (GLOBAL_SCALE*(1 + mul/(scaler*delta + offset)))^2."""
    return (GLOBAL_SCALE * (1.0 + mul / (scaler * delta + offset))) ** 2


def compute_mask(bands0: dict[str, np.ndarray], bands1: dict[str, np.ndarray]) -> tuple[np.ndarray, np.ndarray]:
    """Tolerance field (mask.rs:348-385): local activity of the pair's
    HF/UHF bands -> blur(2.7) -> fuzzy erosion -> masking curves.
    Where the baseline is locally busy, small drift is tolerated;
    where it is quiet, the same drift is flagged."""
    mu, mh, _ = COMBINE_CHANNELS_MULS
    act = 0.5 * (
        mu * (np.abs(bands0["uhf"]) + np.abs(bands1["uhf"]))
        + mh * (np.abs(bands0["hf"]) + np.abs(bands1["hf"]))
    )
    smooth = blur1d(act * MASK_MUL + MASK_BIAS, SIGMA_MASK)
    eroded = np.maximum(fuzzy_erosion_1d(smooth) - MASK_BIAS, 0.0) / MASK_MUL
    mask_ac = _mask_curve(eroded, MASK_Y_OFFSET, MASK_Y_SCALER, MASK_Y_MUL)
    mask_dc = _mask_curve(eroded, MASK_DC_Y_OFFSET, MASK_DC_Y_SCALER, MASK_DC_Y_MUL)
    return mask_ac, mask_dc


# ---------------------------------------------------------------------------
# Channel pipeline + scoring
# ---------------------------------------------------------------------------

#: Channel registry: (wmul AC-malta, wmul AC-l2, wmul DC, full bands?).
#: Maps the reference's X/Y/B channel weights (consts.rs:40-50) onto
#: the recast's lang/byte/len distribution families.
CHANNELS = {
    "byte": {"w_malta_uhf": WMUL[1], "w_malta_hf": WMUL[4], "w_ac": WMUL[5],
             "w_dc": WMUL[7], "full": True},
    "len": {"w_malta_uhf": 0.0, "w_malta_hf": 0.0, "w_ac": WMUL[5],
            "w_dc": WMUL[8], "full": False},
    "lang": {"w_malta_uhf": WMUL[0] / 400.0, "w_malta_hf": WMUL[3] / 2150.0,
             "w_ac": WMUL[5], "w_dc": WMUL[6] / 29.2353797994, "full": False},
}


#: Minimum histogram length for a full-strength pipeline pass — the 8px
#: floor of the reference (lib.rs:209-227): shorter vectors are
#: reflect-101-padded, scored, and their driftmap cropped back.
MIN_BINS = 8


def reflect_pad_min(v: np.ndarray, min_bins: int = MIN_BINS) -> np.ndarray:
    """Reflect(mirror)-pad to the pipeline floor (reflect_index,
    lib.rs:189-201: period 2(n-1), edge NOT repeated => np.pad
    mode='reflect'). Original bins occupy the head, so a driftmap
    computed on the padded vector crops back with [:len(v)]
    (crop_diffmap analog)."""
    v = np.asarray(v)
    n = v.shape[-1]
    if n >= min_bins:
        return v
    mode = "reflect" if n > 1 else "edge"
    padw = [(0, 0)] * (v.ndim - 1) + [(0, min_bins - n)]
    return np.pad(v, padw, mode=mode)


def normalize_hist(counts: np.ndarray) -> np.ndarray:
    """Counts -> intensity: probability mass scaled so a uniform
    distribution sits at mid-gray (partition-size invariance; the
    'subsample in linear space' lesson means all resolution changes
    happen on THIS representation). Last-axis polymorphic: each row
    normalizes by its own total; zero-mass rows stay zero."""
    c = np.asarray(counts, dtype=np.float64)
    total = c.sum(axis=-1, keepdims=True)
    safe = np.where(total > 0, total, 1.0)
    return np.where(total > 0, c / safe * c.shape[-1] * INTENSITY_MID, 0.0)


def channel_driftmap(c0: np.ndarray, c1: np.ndarray, channel: str,
                     hf_asymmetry: float = 1.0,
                     xmul: float = 1.0,
                     intensity_factor: float = 1.0) -> np.ndarray:
    """Single-resolution drift map for one distribution family
    (the recast of compute_diffmap_single_resolution_linear,
    diff.rs:627-658).

    ``intensity_factor`` scales the normalized intensity BEFORE the
    opsin sensitivity pass — the ButteraugliParams.intensity_target
    analog (lib.rs:43-57; applied as `value * intensity_target` ahead
    of the gamma nonlinearity, opsin.rs:208-213). factor =
    intensity_target / 80.0, so the 80-nit SDR default is exactly the
    calibrated identity scale the golden corpus pins.

    ``xmul`` scales the X-channel combine weights exactly as the
    reference does (WMUL X entries x xmul, diff.rs:405-472 /
    consts.rs:40-50); the recast's X channel is `lang` (see CHANNELS),
    so xmul multiplies every lang weight and leaves byte/len alone.
    Inputs below the 8-bin floor are reflect-101 padded and the
    driftmap cropped back (lib.rs:209-227 + crop_diffmap)."""
    spec = CHANNELS[channel]
    n_orig = np.asarray(c0).shape[-1]
    c0 = reflect_pad_min(np.asarray(c0, dtype=np.float64))
    c1 = reflect_pad_min(np.asarray(c1, dtype=np.float64))
    if channel == "lang" and xmul != 1.0:
        spec = dict(spec)
        for wk in ("w_malta_uhf", "w_malta_hf", "w_ac", "w_dc"):
            spec[wk] = spec[wk] * xmul
    v0 = opsin_dynamics(normalize_hist(c0) * intensity_factor)
    v1 = opsin_dynamics(normalize_hist(c1) * intensity_factor)
    b0 = separate_frequencies(v0, full_bands=spec["full"])
    b1 = separate_frequencies(v1, full_bands=spec["full"])

    mask_ac, mask_dc = compute_mask(b0, b1)

    ac = np.zeros_like(v1)
    if spec["full"]:
        ac += malta_diff_1d(b0["uhf"], b1["uhf"], W_UHF_MALTA * spec["w_malta_uhf"],
                            NORM1_UHF, use_lf=False)
        ac += malta_diff_1d(b0["hf"], b1["hf"], W_HF_MALTA * spec["w_malta_hf"],
                            NORM1_HF, use_lf=False)
        ac += l2_diff_asymmetric(b0["hf"], b1["hf"], spec["w_ac"], hf_asymmetry)
    ac += malta_diff_1d(b0["mf"], b1["mf"], W_MF_MALTA * spec["w_malta_hf"],
                        NORM1_MF, use_lf=True)
    ac += l2_diff(b0["mf"], b1["mf"], spec["w_ac"])

    dc = l2_diff(b0["lf"], b1["lf"], spec["w_dc"])
    return np.sqrt(np.maximum(dc * mask_dc + ac * mask_ac, 0.0))[..., :n_orig]


def downsample_2x(counts: np.ndarray) -> np.ndarray:
    """Bin-pair sum on raw counts = 2x coarser histogram (the linear-
    space subsample, diff.rs:551-624 + CLAUDE.md lesson: downsample the
    mass, not any nonlinear transform of it). Last-axis polymorphic."""
    c = np.asarray(counts, dtype=np.float64)
    if c.shape[-1] % 2:
        padw = [(0, 0)] * (c.ndim - 1) + [(0, 1)]
        c = np.pad(c, padw, mode="constant")
    return c.reshape(*c.shape[:-1], -1, 2).sum(axis=-1)


def add_supersampled_2x(full: np.ndarray, coarse: np.ndarray,
                        weight: float = HALFRES_WEIGHT) -> np.ndarray:
    """Blend half-res drift into full-res (diff.rs:82-112):
    dest = dest*(1 - 0.3*w) + w*coarse[i/2]."""
    up = np.repeat(coarse, 2, axis=-1)[..., : full.shape[-1]]
    return full * (1.0 - HEURISTIC_MIXING * weight) + weight * up


def channel_driftmap_multires(c0: np.ndarray, c1: np.ndarray, channel: str,
                              hf_asymmetry: float = 1.0,
                              xmul: float = 1.0,
                              single_resolution: bool = False,
                              intensity_factor: float = 1.0) -> np.ndarray:
    """Full + half-resolution pass (diff.rs:666-695). The half-res
    pass is skipped for vectors under 16 bins (the >=15px gate,
    diff.rs:673) or when single_resolution is set (lib.rs:466-481)."""
    full = channel_driftmap(c0, c1, channel, hf_asymmetry, xmul,
                            intensity_factor=intensity_factor)
    if single_resolution or np.asarray(c0).shape[-1] < 16:
        return full
    coarse = channel_driftmap(
        downsample_2x(c0), downsample_2x(c1), channel, hf_asymmetry, xmul,
        intensity_factor=intensity_factor,
    )
    return add_supersampled_2x(full, coarse)


def score_from_driftmap(dm: np.ndarray) -> tuple[float, float]:
    """Fused max-norm + pnorm_3 (diff.rs:485-548): score = max;
    pnorm_3 = mean of p-norms at p=3,6,12, sums in f64."""
    if dm.size == 0:
        return 0.0, 0.0
    score = float(np.max(dm))
    pn = 0.0
    for p in (3, 6, 12):
        pn += float(np.mean(np.abs(dm) ** p) ** (1.0 / p))
    return score, pn / 3.0


def pnorm_slice(dm: np.ndarray, p: float) -> float:
    """Arbitrary-p aggregation (lib.rs:556-577): mean of the p-norms at
    p, 2p and 4p — the reference's public pnorm API, f64 sums."""
    if dm.size == 0 or p <= 0:
        return 0.0
    a = np.abs(np.asarray(dm, dtype=np.float64))
    return float(np.mean([np.mean(a ** q) ** (1.0 / q) for q in (p, 2 * p, 4 * p)]))


def drift_score_batch(
    base: dict[str, np.ndarray],
    snap: dict[str, np.ndarray],
    hf_asymmetry: float = 1.0,
    xmul: float = 1.0,
    single_resolution: bool = False,
    intensity_factor: float = 1.0,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized drift query over a BATCH of partitions (round-4
    verdict #7): ``base``/``snap`` map each channel to a (rows, bins)
    matrix; returns (scores[rows], pnorm_3[rows], driftmap[rows,
    total_bins]). Every kernel stage is last-axis polymorphic, so one
    batched call replaces rows x ~50 tiny numpy calls — the per-row
    Python loop that capped the verdict stage at ~4k buckets now runs
    as ~50 matrix ops regardless of row count.

    Bit-compatibility contract: a row scored alone equals the same row
    inside any batch (element-independent tap loops; per-row
    reductions use keepdims) — drift_score IS this function at
    rows=1, so the golden corpus pins both paths.
    """
    maps = {}
    for ch in ("byte", "len", "lang"):
        maps[ch] = channel_driftmap_multires(
            np.asarray(base[ch], dtype=np.float64),
            np.asarray(snap[ch], dtype=np.float64),
            ch,
            hf_asymmetry=hf_asymmetry,
            xmul=xmul,
            single_resolution=single_resolution,
            intensity_factor=intensity_factor,
        )
    # cross-channel suppression (psycho.rs:192-207): the secondary
    # channels are attenuated where the byte channel already drifts at
    # the same relative position (resampled onto each channel's axis)
    byte_dm = maps["byte"]
    nb = byte_dm.shape[-1]
    for ch in ("len", "lang"):
        n = maps[ch].shape[-1]
        idx = (np.arange(n) * nb) // max(n, 1)
        maps[ch] = suppress_x_by_y(maps[ch], byte_dm[..., idx])
    dm = np.concatenate(
        [maps["byte"], maps["len"], maps["lang"]], axis=-1
    ) * DRIFT_OUTPUT_SCALE
    scores = np.max(dm, axis=-1) if dm.shape[-1] else np.zeros(dm.shape[:-1])
    pn = np.zeros(dm.shape[:-1])
    for p in (3, 6, 12):
        pn += np.mean(np.abs(dm) ** p, axis=-1) ** (1.0 / p)
    return scores, pn / 3.0, dm


def drift_score(
    base: dict[str, np.ndarray],
    snap: dict[str, np.ndarray],
    hf_asymmetry: float = 1.0,
    xmul: float = 1.0,
    single_resolution: bool = False,
    intensity_factor: float = 1.0,
) -> tuple[float, float, np.ndarray]:
    """Top-level drift query for one partition: three distribution
    families in, (score, pnorm_3, driftmap) out — the recast of
    butteraugli(img1, img2, params) -> ButteraugliResult
    (lib.rs:668-674, result lib.rs:589-602). Thin rows=1 wrapper over
    drift_score_batch, so the scalar oracle and the batched engine
    path share one implementation bit-for-bit.

    The returned driftmap concatenates the per-family maps
    [byte(256) | len(64) | lang(9)] so violation bins are addressable.
    """
    b1 = {ch: np.asarray(base[ch], dtype=np.float64)[None, :] for ch in base}
    s1 = {ch: np.asarray(snap[ch], dtype=np.float64)[None, :] for ch in snap}
    scores, pn, dm = drift_score_batch(
        b1, s1, hf_asymmetry=hf_asymmetry, xmul=xmul,
        single_resolution=single_resolution,
        intensity_factor=intensity_factor,
    )
    return float(scores[0]), float(pn[0]), dm[0]
