"""FEATURE_REGISTRY — name → producer, with shared-intermediate reuse.

Re-expresses ``cesium/features/graphs.py::dask_feature_graph`` †
(SURVEY.md §2.2): the reference declares a dask graph whose culling
computes only requested keys and whose shared nodes (``lomb_model``,
``delta_t_hist``, ``cads``) are evaluated once. Here the same idea is a
plain producer table + a per-call cache: ``compute_features(t, m, e,
names)`` runs each *producer* at most once per group, no matter how many
of its features were requested — a naive per-feature dispatch would
refit the Lomb–Scargle model 49×.

Custom features (cesium ``featurize(custom_functions=...)`` †,
SURVEY.md §2.7) plug in via :func:`register_custom` — both reference
forms: the plain callable ``f(t, m, e) -> float``, and the graph-dep
form where named parameters beyond ``(t, m, e)`` pull shared
intermediates (``lomb_model``/``cads``/``delta_t_hist``) or per-series
``meta_features`` values, dispatched inside the same vectorized kernel
with at most one evaluation of each shared node per group.

This module is pure numpy (no Spark import) so executors ship it via
``--py-files`` untouched.
"""

from __future__ import annotations

import inspect
from collections.abc import Callable, Iterable

import numpy as np

from cesium_spark.functions import features as feat
from cesium_spark.functions.lomb_scargle import fit_lomb_scargle, ls_features
from cesium_spark.functions.qso import qso_fit

# producer name -> callable(t, m, e, cache) -> dict[feature_name, float]
# Each producer computes a family of features sharing an intermediate;
# `cache` is the per-group intermediate store (see _get_intermediate) so
# built-ins and graph-dep custom features share ONE evaluation.
_PRODUCERS: dict[str, Callable[..., dict[str, float]]] = {}
# feature name -> producer name
_FEATURE_TO_PRODUCER: dict[str, str] = {}
# user-registered custom features: name -> (fn, dep_names) where
# dep_names are fn's params beyond (t, m, e) — resolved against
# _INTERMEDIATES first, then the per-series meta dict (cesium's
# graph-dep custom_functions + meta_features-as-inputs †, SURVEY.md §2.7)
_CUSTOM: dict[str, tuple[Callable[..., float], list[str]]] = {}

# feature names become columns of the exact kernel's wide output, next
# to these keys (operators/rollup.rollup_wide)
_KEY_COLS = ("conv_id", "channel", "tier", "window_start")

# Shared intermediates a custom feature can declare as a named-parameter
# dependency (≙ the reference's dask-graph nodes `lomb_model`,
# `delta_t_hist`, `cads` †). Evaluated at most once per group: built-in
# producers pull from the same cache (see _lomb_scargle/_cadence_basic).
_INTERMEDIATES: dict[str, Callable[..., object]] = {
    "lomb_model": lambda t, m, e: fit_lomb_scargle(t, m, e),
    "cads": lambda t, m, e: feat.cads(t),
    "delta_t_hist": lambda t, m, e: feat.delta_t_hist(t),
}


def _get_intermediate(name: str, t, m, e, cache: dict) -> object:
    if name not in cache:
        cache[name] = _INTERMEDIATES[name](t, m, e)
    return cache[name]


def _producer(name: str, feature_names: Iterable[str]):
    def deco(fn):
        _PRODUCERS[name] = fn
        for f in feature_names:
            _FEATURE_TO_PRODUCER[f] = name
        return fn
    return deco


# --- GENERAL family --------------------------------------------------------

_SIMPLE_GENERAL = [
    "mean", "maximum", "minimum", "median", "amplitude", "std", "skew",
    "weighted_average", "median_absolute_deviation", "max_slope",
    "percent_amplitude", "percent_beyond_1_std", "percent_close_to_median",
    "percent_difference_flux_percentile",
]


@_producer("general_simple", _SIMPLE_GENERAL)
def _general_simple(t, m, e, cache):
    # Shared-intermediate evaluation: min/max/median/mean/std/weighted
    # mean are each computed ONCE and reused — every reuse is the exact
    # numpy op sequence of the corresponding feat.* oracle function, so
    # values are bit-identical to calling them independently (the unit
    # tests in tests/test_features_oracle.py pin feat.* ≡ numpy, and the
    # per-window dispatch here is the hot path of the 1m rollup).
    nan = float("nan")
    if not m.size:
        return dict.fromkeys(_SIMPLE_GENERAL, nan)
    mx = float(np.max(m))
    mn = float(np.min(m))
    med = float(np.median(m))
    mu = float(np.mean(m))
    s = float(np.std(m))
    w = 1.0 / (e * e)
    wa = float(np.sum(m * w) / np.sum(w))

    d = m - mu
    m2 = float(np.mean(d * d))
    sk = float(np.mean(d * d * d) / m2 ** 1.5) if m2 != 0.0 else nan

    p5, p95 = np.percentile(m, [5.0, 95.0])
    width = (mx - mn) * 0.1
    return {
        "mean": mu,
        "maximum": mx,
        "minimum": mn,
        "median": med,
        "amplitude": (mx - mn) / 2.0,
        "std": s,
        "skew": sk,
        "weighted_average": wa,
        "median_absolute_deviation": float(np.median(np.abs(m - med))),
        "max_slope": feat.max_slope(t, m),
        "percent_amplitude": (
            float(max(abs(mx - med), abs(mn - med)) / abs(med))
            if med != 0.0 else nan),
        "percent_beyond_1_std": float(np.mean(np.abs(m - wa) > s)),
        "percent_close_to_median": float(np.mean(np.abs(m - med) < width)),
        "percent_difference_flux_percentile": (
            float((p95 - p5) / abs(med)) if med != 0.0 else nan),
    }


_FLUX_RATIOS = [f"flux_percentile_ratio_mid{x}" for x in (20, 35, 50, 65, 80)]


@_producer("flux_percentiles", _FLUX_RATIOS)
def _flux_percentiles(t, m, e, cache):
    return feat.flux_percentile_ratios(m)


@_producer("stetson", ["stetson_j", "stetson_k"])
def _stetson(t, m, e, cache):
    # share the normalized-residual vector (iterative Stetson mean is
    # the expensive part; _stetson_delta is deterministic, so one call
    # is bit-identical to stetson_j/stetson_k's internal ones)
    nan = float("nan")
    if m.size < 2:
        return {"stetson_j": nan, "stetson_k": nan}
    d = feat._stetson_delta(m)
    p = d[:-1] * d[1:]
    j = float(np.mean(np.sign(p) * np.sqrt(np.abs(p))))
    denom = np.sqrt(np.mean(d * d))
    k = float(np.mean(np.abs(d)) / denom) if denom != 0.0 else nan
    return {"stetson_j": j, "stetson_k": k}


_QSO_FEATS = ["qso_log_chi2_qsonu", "qso_log_chi2nuNULL_chi2nu"]
# qso_capped is a catalog feature so the QSO_MAX_N thinning cap is
# visible through the pipeline, not only to direct qso_fit callers
# (no-silent-caps rule, SURVEY.md §4.4)
_QSO_ALL = _QSO_FEATS + ["qso_capped"]


@_producer("qso_model", _QSO_ALL)
def _qso_model(t, m, e, cache):
    # one DRW fit feeds both features (shared intermediate, like the
    # reference's 'qso_model' dask node †)
    out = qso_fit(t, m, e)
    return {k: out[k] for k in _QSO_ALL}


# --- CADENCE family --------------------------------------------------------

_CADS_FEATS = ["cads_avg", "cads_med", "cads_std"]
_ERR_FEATS = ["avg_err", "med_err", "std_err"]
_CAD_PROB_FEATS = [f"cad_probs_{n}" for n in feat.CAD_PROB_THRESHOLDS]
_D2S_FEATS = ["med_double_to_single_step", "avg_double_to_single_step",
              "std_double_to_single_step"]
_NHIST_FEATS = (
    ["all_times_nhist_numpeaks", "all_times_nhist_peak_val"]
    + [f"all_times_nhist_peak{k}_bin" for k in range(1, 5)]
    + [f"all_times_nhist_peak_{j}_to_{k}" for j in range(1, 5)
       for k in range(j + 1, 5)]
)


@_producer("cadence_basic", ["n_epochs", "total_time", "avgt"]
           + _CADS_FEATS + _ERR_FEATS + _CAD_PROB_FEATS + _D2S_FEATS)
def _cadence_basic(t, m, e, cache):
    c = _get_intermediate("cads", t, m, e, cache)
    out = {
        "n_epochs": feat.n_epochs(t),
        "total_time": feat.total_time(t),
        "avgt": feat.avgt(t),
    }
    out.update(feat.cads_stats(c))
    out.update(feat.error_stats(e))
    out.update(feat.cad_probs(c))
    out.update(feat.double_to_single_step(t))
    return out


@_producer("nhist", _NHIST_FEATS)
def _nhist(t, m, e, cache):
    hist_capped = _get_intermediate("delta_t_hist", t, m, e, cache)
    return feat.all_times_nhist_features(t, hist_capped=hist_capped)


# --- LOMB_SCARGLE family (one producer, one fit, 49+ features) -------------

_LS_FEATS = (
    [f"freq{i}_freq" for i in (1, 2, 3)]
    + [f"freq{i}_signif" for i in (1, 2, 3)]
    + [f"freq{i}_amplitude{h}" for i in (1, 2, 3) for h in (1, 2, 3, 4)]
    + [f"freq{i}_rel_phase{h}" for i in (1, 2, 3) for h in (2, 3, 4)]
    + ["freq1_lambda", "freq_y_offset", "linear_trend", "freq_varrat",
       "freq_n_alias",
       "freq_amplitude_ratio_21", "freq_amplitude_ratio_31",
       "freq_frequency_ratio_21", "freq_frequency_ratio_31",
       "freq_signif_ratio_21", "freq_signif_ratio_31",
       "period_fast",
       "freq_model_max_delta_mags", "freq_model_min_delta_mags",
       "freq_model_phi1_phi2", "medperc90_2p_p",
       "fold2P_slope_10percentile", "fold2P_slope_90percentile",
       "p2p_scatter_2praw", "p2p_scatter_over_mad",
       "p2p_scatter_pfold_over_mad", "p2p_ssqr_diff_over_var",
       "scatter_res_raw"]
)


@_producer("lomb_scargle", _LS_FEATS)
def _lomb_scargle(t, m, e, cache):
    # the fit is the shared 'lomb_model' intermediate: a graph-dep
    # custom feature requesting lomb_model reuses THIS fit (and vice
    # versa) — one fit per group no matter who asks first
    return ls_features(t, m, e,
                       fit=_get_intermediate("lomb_model", t, m, e, cache))


# --- public catalog (cesium family lists †: CADENCE_FEATS / GENERAL_FEATS /
# LOMB_SCARGLE_FEATS — SURVEY.md §2.2) --------------------------------------

GENERAL_FEATS = (_SIMPLE_GENERAL + _FLUX_RATIOS
                 + ["stetson_j", "stetson_k"] + _QSO_ALL)
CADENCE_FEATS = (["n_epochs", "total_time", "avgt"] + _CADS_FEATS + _ERR_FEATS
                 + _CAD_PROB_FEATS + _D2S_FEATS + _NHIST_FEATS)
LOMB_SCARGLE_FEATS = list(_LS_FEATS)
ALL_FEATS = GENERAL_FEATS + CADENCE_FEATS + LOMB_SCARGLE_FEATS

# features cheap enough for every tier; LS/nhist/qso restricted by
# default to coarser tiers / the conv tier in the pipeline config (LS
# and qso are whole-series model fits; nhist is O(n²) pairwise)
DEFAULT_FEATS = ([f for f in GENERAL_FEATS if f not in _QSO_ALL]
                 + ["n_epochs", "total_time"] + _CADS_FEATS + _CAD_PROB_FEATS)


def register_custom(name: str, fn: Callable[..., float]) -> None:
    """Register a user feature (cesium ``custom_functions`` †, both
    forms). The first three parameters are positional ``(t, m, e)``;
    any FURTHER named parameters declare graph dependencies, resolved
    per group against (a) the shared intermediates ``lomb_model`` /
    ``cads`` / ``delta_t_hist`` — computed at most once per group and
    shared with the built-in producers — then (b) the per-series
    ``meta`` dict (cesium meta_features-as-inputs †)::

        register_custom("my_ls_peak",
                        lambda t, m, e, lomb_model: lomb_model.freqs[0])
        register_custom("range_per_turn",
                        lambda t, m, e, n_turns: (m.max() - m.min()) / n_turns)

    Overrides nothing built-in; re-registering a custom name replaces it.
    The name becomes a column name, so it may not be a key column
    (``conv_id``/``channel``/``tier``/``window_start``) nor contain a
    quote, backtick or newline.
    """
    if name in _FEATURE_TO_PRODUCER:
        raise ValueError(f"{name} is a built-in feature")
    if name in _KEY_COLS or any(c in name for c in "'\"`\n"):
        raise ValueError(f"{name!r} cannot be a feature column name")
    params = list(inspect.signature(fn).parameters)
    _CUSTOM[name] = (fn, params[3:])


def validate(names: Iterable[str],
             custom: dict | None = None) -> list[str]:
    names = list(names)
    if len(set(names)) < len(names):
        dup = sorted({n for n in names if names.count(n) > 1})
        raise ValueError(f"duplicate features: {dup}")
    cust = custom if custom is not None else _CUSTOM
    unknown = [n for n in names
               if n not in _FEATURE_TO_PRODUCER and n not in cust]
    if unknown:
        raise KeyError(f"unknown features: {unknown}")
    return names


def custom_snapshot(names: Iterable[str]) -> dict[str, tuple]:
    """The registered custom features among ``names``, as a plain dict
    safe to capture in a Spark kernel closure. REQUIRED for distributed
    execution: ``_CUSTOM`` is driver-process module state — executors
    import this module fresh and would see it empty, so the kernel must
    carry its own copy (cloudpickle serializes the callables)."""
    return {n: _CUSTOM[n] for n in names if n in _CUSTOM}


def compute_features(t: np.ndarray, m: np.ndarray, e: np.ndarray,
                     names: Iterable[str],
                     meta: dict[str, object] | None = None,
                     custom: dict[str, tuple] | None = None) -> dict[str, float]:
    """Evaluate the requested features on one series, running each
    producer at most once (graph culling + shared-intermediate reuse,
    ≙ dask.get on the culled graph — cesium featurize_single_ts †).
    Intermediates (`lomb_model`/`cads`/`delta_t_hist`) are cached per
    call, so a graph-dep custom feature and the built-in family that
    shares its node trigger exactly one evaluation between them.

    ``meta`` carries the per-series metadata values (cesium
    meta_features †); custom features consume them as named parameters.

    Arrays must already be sorted by time (the Spark kernel sorts by
    (turn_idx) before calling — determinism contract, SURVEY.md §4.3).
    """
    t = np.asarray(t, dtype=np.float64)
    m = np.asarray(m, dtype=np.float64)
    e = np.asarray(e, dtype=np.float64)
    cust = custom if custom is not None else _CUSTOM
    wanted = validate(names, cust)
    needed_producers: list[str] = []
    seen = set()
    for nm in wanted:
        p = _FEATURE_TO_PRODUCER.get(nm)
        if p and p not in seen:
            seen.add(p)
            needed_producers.append(p)
    values: dict[str, float] = {}
    cache: dict[str, object] = {}
    for p in needed_producers:
        values.update(_PRODUCERS[p](t, m, e, cache))
    for nm in wanted:
        if nm in cust:
            fn, deps = cust[nm]
            try:
                kwargs = {}
                for d in deps:
                    if d in _INTERMEDIATES:
                        kwargs[d] = _get_intermediate(d, t, m, e, cache)
                    elif meta is not None and d in meta:
                        kwargs[d] = meta[d]
                    # unresolvable dep -> fn raises TypeError -> nan
                values[nm] = float(fn(t, m, e, **kwargs))
            except Exception:
                values[nm] = float("nan")  # raise_exceptions=False policy
    return {nm: values[nm] for nm in wanted}
