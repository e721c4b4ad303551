"""JSON config loading + scope resolution.

The reference's ONLY public API is a JSON/HOCON config file
(``FlashML.scala:27-83``; SURVEY §2.13).  Here the programmatic
``ExperimentConfig`` is primary and JSON is its serialization:
``load_config(path_or_dict) -> ExperimentConfig``.

Scope resolution (``FlashMLConstants.scala:71-74``;
``util/ConfigValues.scala:63-101``; user guide §"Understanding scope"):
config blocks are ``noPage`` (single value, non-page-level),
``allPage`` (one value shared by every page) or ``perPage`` (an array
with one entry per page).  ``resolve_scoped`` normalizes any of the
three to a per-page list so engines never re-implement the rules.
"""

from __future__ import annotations

import dataclasses
import json
import re
from dataclasses import dataclass
from typing import Any

from flashml_spark.experiment import ExperimentConfig

SCOPES = ("noPage", "allPage", "perPage")


class ConfigValidationError(ValueError):
    """Raised with the offending config path in the message
    (``ConfigValidatorException.scala``)."""


def resolve_scoped(value: Any, scope: str, num_pages: int) -> list:
    """Normalize a scoped config value to one entry per page.

    * ``noPage``  — page-level modelling off; single value, returned as a
      1-element list (callers treat the experiment as one page).
    * ``allPage`` — the single value is replicated ``num_pages`` times.
    * ``perPage`` — value must already be a list with exactly one entry
      per page.
    """
    if scope == "noPage":
        return [value]
    if scope == "allPage":
        return [value] * num_pages
    if scope == "perPage":
        if not isinstance(value, (list, tuple)) or len(value) != num_pages:
            raise ValueError(
                f"perPage value needs exactly {num_pages} entries, got {value!r}"
            )
        return list(value)
    raise ValueError(f"unknown scope {scope!r}; expected one of {SCOPES}")


def infer_scope(value: Any, num_pages: int) -> str:
    """Reference configs omit the scope tag when unambiguous: arrays of
    length ``num_pages`` mean perPage, scalars mean allPage (or noPage
    when the experiment isn't page-level)."""
    if isinstance(value, (list, tuple)):
        return "perPage"
    return "allPage" if num_pages > 1 else "noPage"


# JSON key → ExperimentConfig field (reference config.json naming,
# ``config.json:27-88`` / ``util/ConfigValues.scala:40-101``)
_KEY_MAP = {
    "project.data.primaryKey": "primary_keys",
    "project.data.responseVariable": "response",
    "project.data.textVariables": "text_cols",
    "project.data.categoricalVariables": "categorical_cols",
    "project.data.numericalVariables": "numerical_cols",
    "project.data.pageVariable": "page_col",
    "project.data.numPages": "num_pages",
    "project.data.filter": "input_filter",
    "project.data.randomIdVariable": "random_id_col",
    "project.data.randomVariable": "random_col",
    "sampling.type": "split",
    "sampling.trainFraction": "train_fraction",
    "sampling.conditions": "conditions",
    "sampling.seed": "seed",
    "preprocessing.steps": "preprocessing_steps",
    "featuregeneration.binning": "binning",
    "vectorization.text.method": "text_method",
    "vectorization.text.slots": "slots",
    "model.algorithm": "algorithm",
    "model.params": "algo_params",
    "model.multiIntent": "multi_intent",
    "model.platt": "platt",
    "model.topK": "top_k",
    "model.upliftTreatment": "uplift_treatment",
    "tuning.type": "tuning",
    "tuning.paramGrid": "param_grid",
    "tuning.paramRanges": "param_ranges",
    "tuning.folds": "cv_folds",
    "tuning.metric": "cv_metric",
    "experiment.cv.predictSavepoint": "cv_predict_savepoint",
    "tuning.hyperband.maxIter": "hyperband_max_iter",
    "tuning.hyperband.eta": "hyperband_eta",
    "tuning.hyperband.iterationMultiplier": "hyperband_iteration_multiplier",
    "tuning.hyperband.maxIterationsFinalModel": "hyperband_final_max_iter",
    "experiment.parallelism": "parallelism",
    "scoring.filter": "post_predict_filter",
    "customMetrics": "custom_metrics",
    "savepoint.root": "savepoint_root",
}


_MISSING = object()


def get_path(d: dict, dotted: str, default: Any = None) -> Any:
    """The value at a dotted path in a nested dict, or ``default``."""
    cur = d
    for part in dotted.split("."):
        if not isinstance(cur, dict) or part not in cur:
            return default
        cur = cur[part]
    return cur


def _flatten(d: dict, prefix: str = "") -> dict[str, Any]:
    out: dict[str, Any] = {}
    for k, v in d.items():
        key = f"{prefix}.{k}" if prefix else k
        if isinstance(v, dict):
            out.update(_flatten(v, key))
        else:
            out[key] = v
    return out


# ---------------------------------------------------------------------------
# Item-level validation (ConfigValidator.scala:38-97 + ConfigItemValidator.scala
# + configChecks.json): each pipeline step owns a list of declarative checks —
# required/empty, datatype, regex pattern, numeric range — evaluated against
# the dotted-key config before any Spark work starts, so a bad config fails
# fast with the offending path in the message.
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class ConfigCheck:
    """One row of the reference's ``configChecks.json`` (path / pattern /
    range / canBeEmpty / datatype), re-keyed to this package's dotted
    config naming."""

    path: str
    pattern: str = ""
    range: str = ""  # "lo-hi", inclusive both ends (ConfigItemValidator.scala:108)
    can_be_empty: bool = True
    datatype: str = "string"  # string | int | float | boolean


_IDENT = "[0-9a-zA-Z_.]+"
# both the reference's plural spelling (configChecks.json uses
# "decision_trees") and this engine's ALGORITHMS key are accepted; the
# loader normalizes the plural to "decision_tree" (caught round 6: the
# item pattern and ALGORITHMS disagreed, so NEITHER spelling passed both
# checks and decision trees were unusable through the CLI)
_ALGOS = (
    "logistic_regression|naive_bayes|svm|multilayer_perceptron|decision_trees"
    "|decision_tree|random_forest|gradient_boosted_trees"
)

# step -> validation list, mirroring configChecks.json's per-step grouping
# (generic/datareader/sampling/preprocessing/featuregeneration/vectorization/
# modelling/scoring); entries name THIS package's keys, with the reference's
# patterns/ranges where the concept carries over.
CONFIG_CHECKS: dict[str, list[ConfigCheck]] = {
    "generic": [
        ConfigCheck("project.data.responseVariable", pattern=_IDENT, can_be_empty=False),
    ],
    "datareader": [
        ConfigCheck("project.data.numPages", range="1-10000", datatype="int"),
        ConfigCheck("project.data.pageVariable", pattern=_IDENT),
        ConfigCheck("project.data.filter"),
        ConfigCheck("project.data.randomIdVariable", pattern=_IDENT),
        ConfigCheck("project.data.randomVariable", pattern=_IDENT),
    ],
    "sampling": [
        ConfigCheck(
            "sampling.type",
            pattern="conditional|random|stratified|stratified_approx",
            can_be_empty=False,
        ),
        ConfigCheck("sampling.trainFraction", range="0-1", datatype="float"),
        ConfigCheck("sampling.seed", datatype="int"),
    ],
    "preprocessing": [],
    "featuregeneration": [],
    "vectorization": [
        ConfigCheck("vectorization.text.method", pattern=_IDENT, can_be_empty=False),
        ConfigCheck("vectorization.text.slots", range="1-16777216", datatype="int"),
    ],
    "modelling": [
        ConfigCheck("model.algorithm", pattern=_ALGOS, can_be_empty=False),
        ConfigCheck("model.multiIntent", datatype="boolean"),
        ConfigCheck("model.platt", datatype="boolean"),
        ConfigCheck("model.topK", range="1-1000", datatype="int"),
        ConfigCheck("tuning.type", pattern="none|cv|hyperband"),
        ConfigCheck("tuning.folds", range="2-100", datatype="int"),
        ConfigCheck(
            "tuning.metric", pattern="f1|weightedPrecision|weightedRecall|accuracy"
        ),
        ConfigCheck("experiment.cv.predictSavepoint", datatype="boolean"),
        ConfigCheck("experiment.parallelism", range="1-1000", datatype="int"),
        ConfigCheck("tuning.hyperband.maxIter", range="1-100000", datatype="int"),
        ConfigCheck("tuning.hyperband.eta", range="2-100", datatype="int"),
    ],
    "scoring": [
        ConfigCheck("scoring.filter"),
    ],
}

PIPELINE_STEPS = tuple(CONFIG_CHECKS)


def _check_item(check: ConfigCheck, flat: dict[str, Any]) -> None:
    """ConfigItemValidator.validate: empty -> datatype -> pattern -> range,
    each failure naming the path."""
    present = check.path in flat and flat[check.path] is not None
    if not check.can_be_empty:
        if not present or str(flat[check.path]) == "":
            raise ConfigValidationError(f"{check.path} should not be empty")
    if not present:
        return
    value = flat[check.path]
    ok_type = {
        "string": lambda v: isinstance(v, str),
        "int": lambda v: isinstance(v, int) and not isinstance(v, bool),
        "float": lambda v: isinstance(v, (int, float)) and not isinstance(v, bool),
        "boolean": lambda v: isinstance(v, bool),
    }[check.datatype]
    if not ok_type(value):
        raise ConfigValidationError(f"{check.path} Value uses a wrong datatype")
    if check.pattern:
        text = json.dumps(value) if isinstance(value, bool) else str(value)
        if re.fullmatch(check.pattern, text) is None:
            raise ConfigValidationError(
                f"Value of {check.path}:{value} should follow {check.pattern} pattern"
            )
    if check.range:
        lo, hi = (float(x) for x in check.range.split("-"))
        if not (lo <= float(value) <= hi):
            raise ConfigValidationError(
                f"For {check.path}, expected value: [{lo}-{hi}], actual value: {value}"
            )


def validate_config_list(step: str, flat: dict[str, Any]) -> None:
    """Validate one pipeline step's checks against a flattened dotted-key
    config (``ConfigValidator.validateConfigList``)."""
    for check in CONFIG_CHECKS[step]:
        _check_item(check, flat)


def validate_config_items(
    flat: dict[str, Any], steps: tuple[str, ...] | list[str] = PIPELINE_STEPS
) -> None:
    """Stepwise validation (``ConfigValidator.validateConfigStepwise``):
    generic checks always run, then each requested step's list."""
    validate_config_list("generic", flat)
    for step in steps:
        if step != "generic" and step in CONFIG_CHECKS:
            validate_config_list(step, flat)


def _effective_flat(flat: dict[str, Any]) -> dict[str, Any]:
    """Provided keys merged over ExperimentConfig's dataclass defaults so
    required-with-default fields validate like the reference's
    always-present HOCON keys."""
    defaults = {
        f.name: (f.default if f.default is not dataclasses.MISSING else None)
        for f in dataclasses.fields(ExperimentConfig)
    }
    out = {}
    for dotted, field_name in _KEY_MAP.items():
        if dotted in flat:
            out[dotted] = flat[dotted]
        elif defaults.get(field_name) is not None:
            out[dotted] = defaults[field_name]
    return out


def load_config(source: str | dict) -> ExperimentConfig:
    """Build an ExperimentConfig from a JSON file path, JSON string, or
    already-parsed dict using the reference's dotted key naming.  Unknown
    keys are ignored (forward compatibility); item-level checks
    (empty/type/pattern/range) run first with the offending path in the
    error, then cross-field semantic validation."""
    if isinstance(source, str):
        try:
            raw = json.loads(source)
        except json.JSONDecodeError:
            with open(source) as f:
                raw = json.load(f)
    else:
        raw = source
    flat = _flatten(raw)
    validate_config_items(_effective_flat(flat))
    kwargs = {}
    for dotted, field_name in _KEY_MAP.items():
        # fetch by PATH from the raw nested dict, not from the flattened
        # view: dict-valued entries (model.params, tuning.paramGrid,
        # tuning.paramRanges) must arrive verbatim — the flattener
        # descends into them, which silently dropped every user-supplied
        # algorithm param and tuning grid (caught round 5 when a
        # regParam=100 CV config reproduced the untuned goldens
        # bit-for-bit)
        val = get_path(raw, dotted, _MISSING)
        if val is not _MISSING:
            kwargs[field_name] = val
    if kwargs.get("algorithm") == "decision_trees":
        kwargs["algorithm"] = "decision_tree"  # reference plural spelling
    cfg = ExperimentConfig(**kwargs)
    _validate(cfg)
    return cfg


def _validate(cfg: ExperimentConfig) -> None:
    """Structural validation in the spirit of ``ConfigValidator.scala:38-85``
    (key presence / type / range)."""
    problems = []
    if not cfg.response:
        problems.append("responseVariable must be set")
    if cfg.split not in ("random", "stratified", "stratified_approx", "conditional"):
        problems.append(
            f"sampling.type {cfg.split!r} not in random|stratified|stratified_approx|conditional"
        )
    if cfg.split == "conditional" and len(cfg.conditions) != 2:
        problems.append("conditional sampling needs exactly 2 conditions")
    if not 0.0 < cfg.train_fraction < 1.0 and cfg.split != "conditional":
        problems.append(f"trainFraction {cfg.train_fraction} outside (0, 1)")
    if cfg.num_pages < 1:
        problems.append(f"numPages {cfg.num_pages} < 1")
    if cfg.page_col is None and cfg.num_pages > 1:
        problems.append("numPages > 1 requires pageVariable")
    from flashml_spark.training.estimators import ALGORITHMS
    from flashml_spark.vectorization import TEXT_METHODS

    if cfg.text_method not in TEXT_METHODS:
        problems.append(f"unknown text method {cfg.text_method!r}")
    if cfg.algorithm not in ALGORITHMS:
        problems.append(f"unknown algorithm {cfg.algorithm!r}")
    if cfg.binning:
        from flashml_spark.operators.binning import BINNING_METHODS

        per_page = cfg.binning if isinstance(cfg.binning[0], list) else [cfg.binning]
        if isinstance(cfg.binning[0], list) and len(cfg.binning) != cfg.num_pages:
            problems.append(
                f"perPage binning needs {cfg.num_pages} page entries, got {len(cfg.binning)}"
            )
        for specs in per_page:
            for spec in specs:
                var = spec.get("variable")
                if var not in cfg.numerical_cols:
                    problems.append(f"binning variable {var!r} not in numericalVariables")
                if spec.get("type", "equidistant") not in BINNING_METHODS:
                    problems.append(f"unknown binning type {spec.get('type')!r}")
                if spec.get("type") == "intervals" and not spec.get("splits"):
                    problems.append(f"binning {var!r}: type intervals needs splits")
    if cfg.preprocessing_steps:
        known = {
            "nullcheck", "tokenizer", "case_normalization", "sentence_marker",
            "stopwords", "stemming", "word_substitutions", "word_substitution",
            "word_classes_replacement", "regex_replacement", "regex_removal",
        }
        for step in cfg.preprocessing_steps:
            if not step.get("inputVariable"):
                problems.append("preprocessing step needs inputVariable")
                continue
            ts = step.get("transformations", [])
            if not ts:
                problems.append(
                    f"preprocessing step {step['inputVariable']!r} has no transformations"
                )
            for t in ts:
                if t.get("type") not in known:
                    problems.append(
                        f"unknown preprocessing transformation type {t.get('type')!r}"
                    )
            tok_at = [i for i, t in enumerate(ts) if t.get("type") == "tokenizer"]
            if tok_at and tok_at != [len(ts) - 1]:
                problems.append(
                    f"preprocessing step {step['inputVariable']!r}: tokenizer "
                    "must be the last transformation"
                )
    if problems:
        raise ValueError("invalid config: " + "; ".join(problems))
