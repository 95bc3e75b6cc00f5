"""Oracle unit tests — numpy kernels vs closed forms on the reference's
synthetic-signal corpus (mirrors cesium/features/tests/test_features.py
value checks †, SURVEY.md §5.1/§5.2 layer 1)."""

from __future__ import annotations

import numpy as np
import pytest

from cesium_spark.functions import features as feat
from cesium_spark.functions.lomb_scargle import fit_lomb_scargle, ls_features
from cesium_spark.functions.registry import (
    ALL_FEATS,
    CADENCE_FEATS,
    GENERAL_FEATS,
    LOMB_SCARGLE_FEATS,
    compute_features,
    register_custom,
    validate,
)


class TestGeneral:
    def test_moments_match_numpy(self, white_noise_irregular):
        t, m, e = white_noise_irregular
        assert feat.mean(m) == np.mean(m)
        assert feat.std(m) == np.std(m)  # ddof=0
        assert feat.maximum(m) == np.max(m)
        assert feat.minimum(m) == np.min(m)
        assert feat.median(m) == np.median(m)
        assert feat.amplitude(m) == (np.max(m) - np.min(m)) / 2

    def test_skew_is_biased_g1(self, white_noise_irregular):
        _, m, _ = white_noise_irregular
        d = m - m.mean()
        expected = np.mean(d ** 3) / np.mean(d ** 2) ** 1.5
        assert feat.skew(m) == pytest.approx(expected, rel=1e-15)

    def test_weighted_average_inverse_variance(self):
        m = np.array([1.0, 2.0, 3.0])
        e = np.array([0.1, 0.2, 0.4])
        expected = np.average(m, weights=1.0 / e**2)
        assert feat.weighted_average(m, e) == pytest.approx(expected, rel=1e-15)

    def test_percent_beyond_1_std_hand_computed(self):
        m = np.array([0.0, 0.0, 0.0, 10.0])
        e = np.full(4, 1.0)
        # weighted avg = 2.5, std = sqrt(mean((m-2.5)^2)) = sqrt(4.6875+14.0625)/2
        s = np.std(m)
        expected = np.mean(np.abs(m - 2.5) > s)
        assert feat.percent_beyond_1_std(m, e) == expected

    def test_max_slope(self):
        t = np.array([0.0, 1.0, 2.0, 4.0])
        m = np.array([0.0, 3.0, 1.0, 1.0])
        assert feat.max_slope(t, m) == 3.0

    def test_mad(self):
        m = np.array([1.0, 2.0, 3.0, 100.0])
        assert feat.median_absolute_deviation(m) == np.median(
            np.abs(m - np.median(m)))

    def test_flux_percentile_ratios_uniform(self):
        # uniform [0,1]: P(50±X/2) span = X/90 of the P5..P95 span
        m = np.linspace(0.0, 1.0, 100001)
        r = feat.flux_percentile_ratios(m)
        for x in (20, 35, 50, 65, 80):
            assert r[f"flux_percentile_ratio_mid{x}"] == pytest.approx(
                x / 90.0, rel=1e-9)

    def test_stetson_on_constant(self):
        m = np.full(10, 3.0)
        assert np.isnan(feat.skew(m))
        assert feat.stetson_j(m) == 0.0

    def test_stetson_k_gaussian(self):
        # for large gaussian samples K → sqrt(2/π) ≈ 0.7979
        rng = np.random.default_rng(7)
        m = rng.normal(0, 1, 20000)
        assert feat.stetson_k(m) == pytest.approx(np.sqrt(2 / np.pi), abs=0.01)


class TestCadence:
    def test_basics(self):
        t = np.array([0.0, 1.0, 3.0, 6.0])
        assert feat.n_epochs(t) == 4.0
        assert feat.total_time(t) == 6.0
        assert feat.avgt(t) == 2.5
        c = feat.cads(t)
        s = feat.cads_stats(c)
        assert s["cads_avg"] == 2.0
        assert s["cads_med"] == 2.0

    def test_cad_probs_ladder(self):
        t = np.array([0.0, 0.5, 5.0, 300.0])  # gaps: 0.5, 4.5, 295
        p = feat.cad_probs(feat.cads(t))
        assert p["cad_probs_1"] == pytest.approx(1 / 3)
        assert p["cad_probs_10"] == pytest.approx(2 / 3)
        assert p["cad_probs_500"] == 1.0

    def test_double_to_single_step(self):
        t = np.array([0.0, 1.0, 2.0, 3.0])  # uniform: ratio = 2
        d = feat.double_to_single_step(t)
        assert d["med_double_to_single_step"] == 2.0
        assert d["std_double_to_single_step"] == 0.0

    def test_nhist_uniform_grid(self):
        # uniform grid: pairwise Δt histogram densest at smallest lags
        t = np.arange(100.0)
        out = feat.all_times_nhist_features(t)
        assert out["all_times_nhist_numpeaks"] >= 1.0
        assert out["all_times_nhist_peak1_bin"] == 0.0

    def test_nhist_cap_is_deterministic(self):
        t = np.sort(np.random.default_rng(3).uniform(0, 1e6, 5000))
        h1, capped1 = feat.delta_t_hist(t)
        h2, capped2 = feat.delta_t_hist(t)
        assert capped1 and capped2
        np.testing.assert_array_equal(h1, h2)

    def test_degenerate_small_n(self):
        t = np.array([1.0])
        out = compute_features(t, np.array([2.0]), np.array([1e-4]),
                               CADENCE_FEATS)
        assert out["n_epochs"] == 1.0
        assert np.isnan(out["cads_avg"])


class TestLombScargle:
    def test_recovers_planted_frequency_regular(self, regular_periodic):
        t, m, e, f = regular_periodic
        fit = fit_lomb_scargle(t, m, e)
        assert fit.ok
        assert fit.freqs[0] == pytest.approx(f, rel=0.02)
        assert fit.amplitudes[0][0] == pytest.approx(1.0, abs=0.08)
        assert fit.amplitudes[0][1] == pytest.approx(0.4, abs=0.08)

    def test_recovers_planted_frequency_irregular(self, irregular_periodic):
        t, m, e, f = irregular_periodic
        fit = fit_lomb_scargle(t, m, e)
        assert fit.ok
        assert fit.freqs[0] == pytest.approx(f, rel=0.02)

    def test_varrat_small_for_strong_signal(self, regular_periodic):
        t, m, e, _ = regular_periodic
        out = ls_features(t, m, e)
        assert out["freq_varrat"] < 0.05
        assert out["period_fast"] == pytest.approx(1 / out["freq1_freq"])

    def test_degenerate_constant(self):
        t = np.linspace(0, 1, 20)
        out = ls_features(t, np.full(20, 2.0), np.full(20, 1e-4))
        assert np.isnan(out["freq1_freq"])

    def test_deterministic(self, irregular_periodic):
        t, m, e, _ = irregular_periodic
        a = ls_features(t, m, e)
        b = ls_features(t, m, e)
        for k in a:
            assert (a[k] == b[k]) or (np.isnan(a[k]) and np.isnan(b[k]))


class TestRegistry:
    def test_catalog_sizes(self):
        assert len(GENERAL_FEATS) == 24  # + qso_capped (cap visibility)
        assert len(CADENCE_FEATS) == 41
        assert len(LOMB_SCARGLE_FEATS) == 50
        assert len(set(ALL_FEATS)) == len(ALL_FEATS) == 115

    def test_all_features_finite_or_nan_on_random(self, white_noise_irregular):
        t, m, e = white_noise_irregular
        vals = compute_features(t, m, e, ALL_FEATS)
        assert set(vals) == set(ALL_FEATS)

    def test_unknown_feature_raises(self):
        with pytest.raises(KeyError):
            compute_features(np.arange(3.0), np.arange(3.0),
                             np.full(3, 1e-4), ["nope"])

    @pytest.mark.parametrize("name", ["conv_id", "channel", "tier",
                                      "window_start", "a'b", 'a"b', "a`b",
                                      "a\nb"])
    def test_custom_name_must_be_a_column_name(self, name):
        """Feature names become columns of rollup_wide's output."""
        from cesium_spark.functions.registry import _CUSTOM
        with pytest.raises(ValueError):
            register_custom(name, lambda t, m, e: 0.0)
        assert name not in _CUSTOM

    def test_duplicate_feature_names_rejected(self):
        with pytest.raises(ValueError, match="duplicate"):
            validate(["mean", "std", "mean"])

    def test_custom_function(self, white_noise_irregular):
        t, m, e = white_noise_irregular
        register_custom("my_range", lambda t, m, e: float(m.max() - m.min()))
        vals = compute_features(t, m, e, ["my_range", "amplitude"])
        assert vals["my_range"] == pytest.approx(2 * vals["amplitude"])

    def test_custom_graph_dep_shares_one_fit(self, irregular_periodic,
                                             monkeypatch):
        """A custom feature depending on `lomb_model` must reuse the ONE
        fit that also feeds the built-in LS family (cesium dask-graph
        shared-node semantics †) — producer runs exactly once."""
        from cesium_spark.functions import registry as reg
        from cesium_spark.functions.lomb_scargle import fit_lomb_scargle

        t, m, e, f = irregular_periodic
        calls = {"n": 0}

        def counting_fit(t_, m_, e_):
            calls["n"] += 1
            return fit_lomb_scargle(t_, m_, e_)

        monkeypatch.setitem(reg._INTERMEDIATES, "lomb_model",
                            counting_fit)
        register_custom("my_ls_freq",
                        lambda t, m, e, lomb_model: lomb_model.freqs[0])
        vals = compute_features(t, m, e, ["my_ls_freq", "freq1_freq",
                                          "period_fast"])
        assert calls["n"] == 1
        assert vals["my_ls_freq"] == vals["freq1_freq"]
        assert vals["freq1_freq"] == pytest.approx(f, rel=0.05)

    def test_custom_graph_dep_cads_and_hist(self, white_noise_irregular):
        t, m, e = white_noise_irregular
        register_custom("my_cads_max",
                        lambda t, m, e, cads: float(np.max(cads)))
        register_custom("my_hist_mass",
                        lambda t, m, e, delta_t_hist:
                        float(np.sum(delta_t_hist[0])))
        vals = compute_features(t, m, e,
                                ["my_cads_max", "my_hist_mass", "cads_avg"])
        assert vals["my_cads_max"] == float(np.max(np.diff(t)))
        assert vals["my_hist_mass"] > 0

    def test_custom_meta_input(self, white_noise_irregular):
        """meta_features-as-inputs †: named params resolve against the
        per-series meta dict; missing meta → nan (raise_exceptions=False
        policy), never an exception."""
        t, m, e = white_noise_irregular
        register_custom("range_over_label",
                        lambda t, m, e, label: float(m.max() - m.min()) / label)
        vals = compute_features(t, m, e, ["range_over_label"],
                                meta={"label": 2.0})
        assert vals["range_over_label"] == pytest.approx(
            float(m.max() - m.min()) / 2.0)
        # without meta the dep is unresolvable -> nan, no raise
        vals = compute_features(t, m, e, ["range_over_label"])
        assert np.isnan(vals["range_over_label"])


class TestQso:
    """DRW model-fit features (cesium qso_model.py † — spec pinned in
    cesium_spark/functions/qso.py per SURVEY.md §0)."""

    def _ou_series(self, n=300, tau=1000.0, sig=1.0, err=0.05, seed=7):
        rng = np.random.RandomState(seed)
        t = np.sort(rng.uniform(0, 20000.0, n))
        m = np.empty(n)
        m[0] = rng.randn() * sig
        for i in range(1, n):
            a = np.exp(-(t[i] - t[i - 1]) / tau)
            m[i] = a * m[i - 1] + sig * np.sqrt(1 - a * a) * rng.randn()
        m += err * rng.randn(n)
        e = np.full(n, err)
        return t, m, e

    def test_correlated_signal_favored_over_null(self):
        t, m, e = self._ou_series()
        out = compute_features(t, m, e,
                               ["qso_log_chi2_qsonu",
                                "qso_log_chi2nuNULL_chi2nu"])
        # DRW explains an OU series far better than white noise
        assert out["qso_log_chi2nuNULL_chi2nu"] > 1.0
        assert np.isfinite(out["qso_log_chi2_qsonu"])

    def test_white_noise_calibrated_errors_not_favored(self):
        # white noise whose error bars MATCH the scatter: the null is the
        # true model, chi2_null/nu ≈ 1, and the DRW can barely improve it
        rng = np.random.RandomState(5)
        t = np.sort(rng.uniform(0, 20000.0, 300))
        m = rng.randn(300)
        e = np.full(300, 1.0)
        wn = compute_features(t, m, e, ["qso_log_chi2nuNULL_chi2nu",
                                        "qso_log_chi2_qsonu"])
        ou = compute_features(*self._ou_series(),
                              ["qso_log_chi2nuNULL_chi2nu"])
        assert abs(wn["qso_log_chi2_qsonu"]) < 0.5   # chi2/nu ≈ 1
        assert wn["qso_log_chi2nuNULL_chi2nu"] < 0.5
        assert (ou["qso_log_chi2nuNULL_chi2nu"]
                > wn["qso_log_chi2nuNULL_chi2nu"] + 1.0)

    def test_degenerate_small_n(self):
        from cesium_spark.functions.qso import qso_fit
        out = qso_fit(np.array([1.0]), np.array([2.0]), np.array([1e-4]))
        assert np.isnan(out["qso_log_chi2_qsonu"])
        assert np.isnan(out["qso_log_chi2nuNULL_chi2nu"])

    def test_cap_deterministic_and_flagged(self):
        from cesium_spark.functions.qso import QSO_MAX_N, qso_fit
        rng = np.random.RandomState(3)
        n = QSO_MAX_N + 501
        t = np.sort(rng.uniform(0, 1e6, n))
        m = rng.randn(n)
        e = np.full(n, 1e-2)
        out1 = qso_fit(t, m, e)
        out2 = qso_fit(t, m, e)
        assert out1["qso_capped"] == 1.0
        assert out1 == out2  # bit-identical rerun

    def test_bit_deterministic(self):
        t, m, e = self._ou_series(seed=11)
        a = compute_features(t, m, e, ["qso_log_chi2_qsonu"])
        b = compute_features(t, m, e, ["qso_log_chi2_qsonu"])
        assert a["qso_log_chi2_qsonu"] == b["qso_log_chi2_qsonu"]
