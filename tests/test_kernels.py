"""Drift-kernel tests: stage-wise unit checks, property/metamorphic
tests, and a pinned golden-score corpus.

Mirrors the reference's test stack (SURVEY §5): golden parity corpus
(reference_parity.rs — ours pins OUR numpy numbers, as theirs pinned
C++), conformance properties (conformance.rs: identity=0,
monotonicity), and stage-wise kernel checks (intermediate_values.rs).
No Spark here — kernels are pure numpy; distribution parity is
covered in test_drift.py.
"""

import numpy as np
import pytest

from sparkval import fixtures as fx, kernels as K
from sparkval.config import LANG_VOCAB


def hists_of(pdf):
    present = pdf["content"].dropna()
    bh = np.zeros(256)
    for c in present:
        bh += np.bincount(
            np.frombuffer(c.encode("utf-8", "replace"), dtype=np.uint8), minlength=256
        )
    lens = present.str.len().to_numpy()
    lh = np.bincount(np.clip(np.log2(lens + 1).astype(int), 0, 63), minlength=64).astype(float)
    vc = pdf["lang"].value_counts()
    lg = np.array([float(vc.get(l, 0)) for l in LANG_VOCAB])
    return {"byte": bh, "len": lh, "lang": lg}


def case_score(case, n_rows=1500):
    b, s, _ = fx.make_case(case, n_rows=n_rows)
    return K.drift_score(hists_of(b), hists_of(s))


# ---------------------------------------------------------------------------
# Stage-wise kernel checks
# ---------------------------------------------------------------------------

def test_gaussian_kernel_halfwidth():
    # halfwidth floor(2.25*sigma), odd length (blur.rs:46-69)
    for sigma in (1.2, 1.564, 3.225, 7.156):
        k = K.gaussian_kernel(sigma)
        assert len(k) == 2 * max(1, int(2.25 * sigma)) + 1
        assert k[len(k) // 2] == 1.0  # un-normalized peak


def test_blur_preserves_constant_signal():
    # border re-normalization: blurring a constant returns the constant
    v = np.full(40, 3.7)
    out = K.blur1d(v, 3.225)
    assert np.allclose(out, 3.7, atol=1e-12)


def test_blur_shorter_than_kernel():
    v = np.full(5, 2.0)
    assert np.allclose(K.blur1d(v, 7.156), 2.0, atol=1e-12)
    assert len(K.blur1d(v, 7.156)) == 5


def test_remove_amplify_clamp_properties():
    v = np.array([-3.0, -0.1, 0.0, 0.05, 0.5, 10.0])
    r = K.remove_range_around_zero(v, 0.29)
    assert np.allclose(r, [-2.71, 0.0, 0.0, 0.0, 0.21, 9.71])
    a = K.amplify_range_around_zero(v, 0.1)
    assert np.allclose(a, [-3.1, -0.2, 0.0, 0.1, 0.6, 10.1])
    c = K.maximum_clamp(np.array([0.0, 5.0, -40.0]), 28.4691806922)
    assert c[0] == 0.0 and c[1] == 5.0
    assert c[2] == pytest.approx(-(28.4691806922 + 0.724 * (40 - 28.4691806922)))


def test_fuzzy_erosion_between_min_and_input():
    v = np.array([5.0, 1.0, 4.0, 9.0, 2.0, 7.0, 3.0, 8.0, 6.0, 0.5])
    e = K.fuzzy_erosion_1d(v)
    # weights (.45,.3,.25) sum to 1 over the sorted window, so the
    # output is bounded by the window and biased toward its minimum
    assert np.all(e >= np.min(v) - 1e-12)
    assert np.all(e <= np.max(v) + 1e-12)
    # bias check: erosion of the constant-plus-one-dip signal dips
    flat = np.full(12, 10.0); flat[6] = 1.0
    e2 = K.fuzzy_erosion_1d(flat)
    assert e2[3] < 10.0 and e2[9] < 10.0  # dip leaks +-offset bins


def test_separate_frequencies_bands_sum_structure():
    rng = np.random.default_rng(7)
    v = np.abs(rng.normal(100, 30, 128))
    b = K.separate_frequencies(v, full_bands=True)
    # LF is smooth: total variation strictly less than input's
    tv = lambda x: np.abs(np.diff(x)).sum()
    assert tv(b["lf"]) < tv(v)
    # pre-gate identity v = lf + mf_raw holds by construction of the DoG
    assert b["uhf"].shape == v.shape
    # B-channel rule (psycho.rs:25-27): no HF/UHF when full_bands=False
    b2 = K.separate_frequencies(v, full_bands=False)
    assert not b2["hf"].any() and not b2["uhf"].any()


def test_malta_zero_for_identical_inputs():
    v = np.abs(np.sin(np.arange(64))) * 50
    out = K.malta_diff_1d(v, v.copy(), 10.0, 1e6)
    assert np.allclose(out, 0.0)


def test_malta_rewards_coherent_runs_over_isolated_spikes():
    """The Malta recast's purpose: drift spread across adjacent bins
    (a coherent run) must outscore the same total drift concentrated
    in one isolated bin (malta.rs line-detector semantics)."""
    base = np.full(64, 100.0)
    run = base.copy(); run[30:39] += 3.0        # 9-bin coherent run of +3
    spike = base.copy(); spike[34] += 3.0       # one isolated bin of +3
    m_run = K.malta_diff_1d(base, run, 1.0, 1e9).sum()
    m_spike = K.malta_diff_1d(base, spike, 1.0, 1e9).sum()
    # coherence superlinearity: 9 coherent bins >> 9x one isolated bin
    assert m_run > 9 * m_spike


def test_asymmetric_l2_appearing_beats_disappearing():
    """hf_asymmetry > 1: mass appearing (artifact) outweighs mass
    disappearing (blur) — diff.rs:184-225 semantics."""
    a = np.zeros(32)           # baseline band: quiet
    b = np.zeros(32); b[10] = 5.0   # snapshot: new mass appears
    appear = K.l2_diff_asymmetric(a, b, 1.0, 2.0).sum()
    disappear = K.l2_diff_asymmetric(b, a, 1.0, 2.0).sum()
    assert appear > disappear


def test_suppress_x_by_y():
    """psycho.rs:192-207: x attenuated toward s=0.653 as y grows,
    untouched (factor -> 1) where y ~ 0."""
    x = np.full(8, 10.0)
    quiet = K.suppress_x_by_y(x, np.zeros(8))
    busy = K.suppress_x_by_y(x, np.full(8, 100.0))
    assert np.allclose(quiet, 10.0)
    assert np.all(busy < 10.0)
    assert np.all(busy > 10.0 * K.SUPPRESS_S * 0.99)


def test_blur_mirror_matches_interior_and_boundary():
    """blur_mirrored_5x5 semantics (blur.rs:1240-1258): interior equals
    the renormalized FIR; the boundary uses MIRRORED samples (edge
    repeated: x[-1] == x[0]), not clamp+renorm."""
    rng = np.random.default_rng(5)
    v = rng.uniform(0, 10, 32)
    out = K.blur1d_mirror(v, 1.2)
    ref = K.blur1d(v, 1.2)
    hw = (len(K.gaussian_kernel(1.2)) - 1) // 2
    assert np.allclose(out[hw:-hw], ref[hw:-hw], atol=1e-12)
    # boundary: hand-rolled mirror convolution at bin 0
    k = K.gaussian_kernel(1.2); k /= k.sum()
    mirror_idx = [1, 0, 0, 1, 2]  # x=-2 -> 1, x=-1 -> 0 (edge repeated)
    want0 = sum(k[j] * v[mirror_idx[j]] for j in range(5))
    assert out[0] == pytest.approx(want0, rel=1e-12)


def test_opsin_absorbance_bias_and_clamp():
    """Mirror of the reference's own unit tests (opsin.rs:532-547):
    zero input yields the channel biases; clamped mixing never goes
    below (MIN_01, MIN_01, MIN_2) even for wildly negative input."""
    z = np.zeros(4)
    o0, o1, o2 = K.opsin_absorbance(z, z, z, clamp=False)
    assert np.allclose(o0, K.OPSIN_BIAS[0], atol=1e-12)
    assert np.allclose(o1, K.OPSIN_BIAS[1], atol=1e-12)
    assert np.allclose(o2, K.OPSIN_BIAS[2], atol=1e-12)
    neg = np.full(4, -100.0)
    c0, c1, c2 = K.opsin_absorbance(neg, neg, neg, clamp=True)
    assert np.all(c0 >= K.OPSIN_MIN[0]) and np.all(c1 >= K.OPSIN_MIN[1])
    assert np.all(c2 >= K.OPSIN_MIN[2])


def test_opsin_dynamics_triple_opponent_rotation():
    """opsin_dynamics_image (opsin.rs:154-251): X/Y are the
    difference/sum of the two mixed long/medium channels (X+Y = 2*c0,
    Y-X = 2*c1), B is independent of the first two inputs' mix only
    through its own row; identical flat inputs give X ~= 0 relative to
    Y (opponent channels decorrelate equal energy)."""
    rng = np.random.default_rng(11)
    r = rng.uniform(0, 50, 32)
    g = rng.uniform(0, 50, 32)
    b = rng.uniform(0, 50, 32)
    X, Y, B = K.opsin_dynamics_triple(r, g, b)
    # reconstruct the mixed channels from the rotation and verify both
    # satisfy their clamp floors (opsin.rs:237-239)
    c0 = (X + Y) / 2.0
    c1 = (Y - X) / 2.0
    assert np.all(c0 >= K.OPSIN_MIN[0] - 1e-12)
    assert np.all(c1 >= K.OPSIN_MIN[1] - 1e-12)
    assert np.all(B >= K.OPSIN_MIN[2] - 1e-12)
    # r == g == b constant: the mix rows are near-normalized but NOT
    # identical, so X is small versus Y but generally nonzero
    flat = np.full(32, 10.0)
    Xf, Yf, _ = K.opsin_dynamics_triple(flat, flat, flat)
    assert np.all(np.abs(Xf) < 0.1 * np.abs(Yf))


def test_reflect_pad_min_is_reflect101():
    """lib.rs:189-227: reflect-101 (edge NOT repeated), original bins
    at the head, no-op at or above the floor."""
    v = np.array([1.0, 2.0, 3.0])
    p = K.reflect_pad_min(v, 8)
    assert np.allclose(p, [1, 2, 3, 2, 1, 2, 3, 2])
    assert K.reflect_pad_min(np.arange(8.0), 8) is not None
    assert len(K.reflect_pad_min(np.arange(9.0), 8)) == 9
    # driftmap of a short-histogram channel crops back to input length
    dm = K.channel_driftmap(np.array([5.0, 1.0, 3.0]), np.array([1.0, 5.0, 3.0]), "len")
    assert len(dm) == 3


def test_xmul_scales_lang_channel_only():
    """xmul mirrors WMUL X-entry scaling (diff.rs:405-472,
    consts.rs:40-50): xmul=0 zeroes the lang-channel contribution,
    the score is monotone in xmul, and byte/len channels are
    untouched."""
    lang0 = np.array([100.0, 50, 25, 10, 5, 200, 40, 30, 70])
    lang1 = np.array([10.0, 150, 125, 60, 55, 20, 140, 80, 7])
    lens = np.full(64, 50.0)
    byt = np.full(256, 100.0)
    hb = {"byte": byt, "len": lens, "lang": lang0}
    hs = {"byte": byt, "len": lens, "lang": lang1}
    scores = [K.drift_score(hb, hs, xmul=x)[0] for x in (0.0, 0.25, 1.0, 4.0)]
    assert scores[0] == 0.0  # lang drift fully silenced
    for a, b in zip(scores, scores[1:]):
        assert a < b, scores
    # a byte-only drift is xmul-invariant
    byt1 = byt.copy(); byt1[100:110] += 500.0
    s1 = K.drift_score(hb, {"byte": byt1, "len": lens, "lang": lang0}, xmul=1.0)[0]
    s2 = K.drift_score(hb, {"byte": byt1, "len": lens, "lang": lang0}, xmul=7.0)[0]
    assert s1 == s2


def test_downsample_preserves_mass():
    c = np.arange(64, dtype=float)
    d = K.downsample_2x(c)
    assert d.sum() == c.sum()
    assert len(d) == 32


def test_add_supersampled_blend_constants():
    full = np.ones(8)
    coarse = np.zeros(4)
    out = K.add_supersampled_2x(full, coarse)
    assert np.allclose(out, 1.0 - K.HEURISTIC_MIXING * K.HALFRES_WEIGHT)


def test_score_reduction_max_and_pnorm():
    dm = np.zeros(100); dm[3] = 2.0
    score, pn = K.score_from_driftmap(dm)
    assert score == 2.0
    expected = np.mean([np.mean(dm ** p) ** (1 / p) for p in (3, 6, 12)])
    assert pn == pytest.approx(expected)


# ---------------------------------------------------------------------------
# Property / metamorphic tests (conformance.rs analogs)
# ---------------------------------------------------------------------------

def test_identity_scores_zero():
    s, p, dm = case_score("uniform_python__identity")
    assert s == 0.0 and p == 0.0
    assert not dm.any()


@pytest.mark.parametrize("gen", ["random_mid", "gradient_len"])
def test_monotonic_in_noise_amplitude(gen):
    base = fx.make_corpus(gen, 1500)
    hb = hists_of(base)
    scores = []
    for amp in ("0.01", "0.1", "0.5", "1.0"):
        s, _, _ = K.drift_score(hb, hists_of(fx.distort(base, f"noise_7_{amp}")))
        scores.append(s)
    # FIXTURES.md §5 tolerance: s[i] <= s[i+1] * 1.5
    for a, b in zip(scores, scores[1:]):
        assert a <= b * 1.5, scores


def test_monotonic_in_langswap_fraction():
    base = fx.make_corpus("random_mid", 1500)
    hb = hists_of(base)
    scores = [
        K.drift_score(hb, hists_of(fx.distort(base, f"langswap_{k}")))[0]
        for k in (1, 5, 20, 60)
    ]
    for a, b in zip(scores, scores[1:]):
        assert a <= b * 1.5, scores


def test_hf_asymmetry_direction():
    """Pure appearing mass (new byte cluster in an empty region) must
    gain weight as hf_asymmetry rises; pure disappearing mass (a hole
    where the baseline had structure) must lose weight. Direct
    l2_diff_asymmetric semantics at the drift_score level."""
    rng = np.random.default_rng(3)
    base_b = np.zeros(256)
    base_b[60:120] = 1000.0 + rng.normal(0, 40, 60)  # structured region
    lang = np.array([100.0] * 9)
    lens = np.full(64, 50.0)

    appear = base_b.copy(); appear[200:210] = 400.0   # new cluster, empty region
    hb = {"byte": base_b, "len": lens, "lang": lang}
    ha = {"byte": appear, "len": lens, "lang": lang}
    s_low = K.drift_score(hb, ha, hf_asymmetry=1.0)[1]   # pnorm: integral view
    s_high = K.drift_score(hb, ha, hf_asymmetry=4.0)[1]
    assert s_high > s_low

    # Blur side: at the drift-score level a pure "disappearing"
    # fixture cannot exist — histograms are normalized, so mass
    # leaving one region necessarily appears elsewhere (zero-sum).
    # The disappearing-weighted-less semantics are therefore pinned at
    # the band level: with the same band pair, the blur direction must
    # shed weight as asym grows while the appear direction gains it.
    a_band = np.zeros(32); a_band[10] = 5.0
    b_band = np.zeros(32)
    blur_low = K.l2_diff_asymmetric(a_band, b_band, 1.0, 1.0).sum()
    blur_high = K.l2_diff_asymmetric(a_band, b_band, 1.0, 4.0).sum()
    assert blur_high < blur_low
    app_low = K.l2_diff_asymmetric(b_band, a_band, 1.0, 1.0).sum()
    app_high = K.l2_diff_asymmetric(b_band, a_band, 1.0, 4.0).sum()
    assert app_high > app_low


def test_single_resolution_close_to_multires():
    """single_resolution drops a 0.5-weight half-res blend
    (lib.rs:466-481): scores stay within ~2x."""
    b, s, _ = fx.make_case("random_mid__quantize_3", n_rows=1500)
    full = K.drift_score(hists_of(b), hists_of(s))[0]
    single = K.drift_score(hists_of(b), hists_of(s), single_resolution=True)[0]
    assert 0.5 * full <= single <= 2.0 * full


# ---------------------------------------------------------------------------
# Golden corpus — OUR numbers, pinned (reference_parity.rs discipline:
# <=0.1% relative tolerance; regenerate only with an explicit
# recalibration commit).
# ---------------------------------------------------------------------------

GOLDEN = {
    "uniform_python__identity": (0.0, 0.0),
    "uniform_python__noise_7_0.1": (4.934102886333435, 2.6666577390122264),
    "uniform_python__langswap_10": (9.869064693591625, 3.8632615310900698),
    "random_mid__quantize_3": (82.78415353874738, 36.81988188120153),
    "random_mid__shift_3": (1.7939315502213231, 0.8847462489592636),
    "random_mid__noise_7_0.5": (1.2468408071237067, 0.5226775059959761),
    "gradient_len__truncate_20": (23.513988324294086, 9.137345669011443),
    "bimodal_len__truncate_50": (123.65686678680348, 52.03937383969037),
    "sine_bytes__shift_5": (77.24841208982473, 32.298185518793),
    "uniform_rust__quantize_8": (79.13393214451519, 35.17585076274577),
}


@pytest.mark.parametrize("case", sorted(GOLDEN))
def test_golden_scores(case):
    want_s, want_p = GOLDEN[case]
    got_s, got_p, _ = case_score(case)
    assert got_s == pytest.approx(want_s, rel=1e-3)
    assert got_p == pytest.approx(want_p, rel=1e-3)


def test_pnorm_slice_arbitrary_p():
    """pnorm_slice (lib.rs:556-577): mean of norms at p/2p/4p; at p=3
    it reproduces the fused score_from_driftmap pnorm_3 exactly."""
    rng = np.random.default_rng(7)
    dm = rng.uniform(0, 2, 200)
    _, pn3 = K.score_from_driftmap(dm)
    assert np.isclose(K.pnorm_slice(dm, 3.0), pn3, rtol=1e-12)
    # monotone in p for this nonnegative map (higher p -> closer to max)
    assert K.pnorm_slice(dm, 1.0) <= K.pnorm_slice(dm, 3.0) <= np.max(dm) + 1e-12
    assert K.pnorm_slice(np.array([]), 3.0) == 0.0


def test_drift_score_batch_bit_equals_scalar():
    """The vectorization contract (round 4): a row scored alone equals
    the same row inside any batch, BIT-for-bit. This
    is what lets drift_score stay the golden oracle while the engine
    scores whole batches."""
    rng = np.random.default_rng(123)
    R = 17
    bases = [
        {"byte": rng.integers(0, 500, 256).astype(float),
         "len": rng.integers(0, 200, 64).astype(float),
         "lang": rng.integers(0, 50, 9).astype(float)}
        for _ in range(R)
    ]
    snaps = [{k: v + rng.integers(0, 30, len(v)) for k, v in b.items()} for b in bases]
    bmat = {ch: np.stack([b[ch] for b in bases]) for ch in ("byte", "len", "lang")}
    smat = {ch: np.stack([s[ch] for s in snaps]) for ch in ("byte", "len", "lang")}

    scal = [K.drift_score(b, s) for b, s in zip(bases, snaps)]
    sc, pn, dm = K.drift_score_batch(bmat, smat)
    for i in range(R):
        assert scal[i][0] == sc[i]
        assert scal[i][1] == pn[i]
        assert np.array_equal(scal[i][2], dm[i])
