"""Cache ownership, fail-early order and Spark-job ceilings of the corpus
curation pipeline (``pipelines/corpus_curate.py``).

The stage-by-stage funnel tests live in ``test_pipelines.py``; this file
pins how a run spends jobs and caches. ``curation_corpus`` builds one
40-document corpus on which every configuration below changes something,
and ``CURATION_CONFIGS`` names the configurations whose job counts are
pinned.
"""

from __future__ import annotations

import argparse
import contextlib
import random
import re
from pathlib import Path

import pytest


_ADJ = ["quick", "lazy", "green", "quiet", "bright", "small", "old", "warm"]
_NOUN = ["fox", "dog", "river", "city", "garden", "train", "teacher", "window"]
_VERB = ["watches", "follows", "paints", "visits", "finds", "carries"]
_PREP = ["near", "behind", "under", "beside", "across"]
_DE = ["der", "schnelle", "braune", "fuchs", "springt", "ueber", "den", "hund",
       "und", "die", "katze", "schlaeft", "im", "garten"]
_BLURB = ("this page is shared under the creative commons attribution "
          "license version four point zero international")
_BENCH = ("benchmark question what is the capital of atlantis and why do the "
          "fish vote every four years in the coral senate")


def _prose(rng: random.Random, n_sentences: int) -> str:
    return " ".join(
        f"the {rng.choice(_ADJ)} {rng.choice(_NOUN)} {rng.choice(_VERB)} the "
        f"{rng.choice(_ADJ)} {rng.choice(_NOUN)} {rng.choice(_PREP)} the "
        f"{rng.choice(_NOUN)}."
        for _ in range(n_sentences)
    )


def curation_corpus(spark, root: str) -> dict[str, str]:
    """Write the 40-document corpus and its side inputs under ``root``.

    Documents 0-21 are English prose and 22-27 German word salad (the
    ``lang`` strata); 28-29 copy 0-1 exactly, 30-31 are near-copies of
    2-3, 32-35 share a verbatim license blurb, 36-37 quote the benchmark
    and 38-39 fail the quality gate. Returns the paths of the corpus
    (``docs``), the benchmark (``bench``), an LM reference corpus
    (``lm_ref``), a DSIR target corpus (``dsir_target``), a quality
    classifier artifact holding the default weights (``clf``) and
    document embeddings in which 5 points the way 4 does (``emb``).
    """
    from mini_feature_store_spark.operators.text import (
        QUALITY_CLF_BIAS,
        QUALITY_CLF_WEIGHTS,
        save_quality_classifier,
    )

    rng = random.Random(7)
    rows = [(i, _prose(rng, 4), "en") for i in range(22)]
    rows += [
        (i, " ".join(rng.choice(_DE) for _ in range(24)), "de")
        for i in range(22, 28)
    ]
    rows += [(28, rows[0][1], "en"), (29, rows[1][1], "en")]
    for i, src in ((30, 2), (31, 3)):
        words = rows[src][1].split()
        words[5] = "purple"
        rows.append((i, " ".join(words), "en"))
    rows += [(i, f"{_prose(rng, 1)} {_BLURB} {_prose(rng, 1)}", "en")
             for i in range(32, 36)]
    rows += [(i, f"{_BENCH} {_prose(rng, 1)}", "en") for i in (36, 37)]
    rows += [(38, "!!! ??? ... ;;; ---", "en"), (39, "tiny", "en")]
    rows = [(i, t, lang, f"https://site{i % 3}.com/p{i}") for i, t, lang in rows]
    paths = {k: f"{root}/{k}" for k in ("docs", "bench", "lm_ref", "dsir_target")}
    schema = "doc_id long, text string, lang string, url string"
    spark.createDataFrame(rows, schema).write.parquet(paths["docs"])
    spark.createDataFrame([(0, _BENCH)], "doc_id long, text string").write.parquet(
        paths["bench"]
    )
    ref = random.Random(11)
    for key in ("lm_ref", "dsir_target"):
        spark.createDataFrame(
            [(i, _prose(ref, 3)) for i in range(12)], "doc_id long, text string"
        ).write.parquet(paths[key])
    paths["clf"] = f"{root}/clf"
    save_quality_classifier(
        {"weights": QUALITY_CLF_WEIGHTS, "bias": QUALITY_CLF_BIAS}, paths["clf"]
    )
    vec = random.Random(13)
    emb = [[vec.gauss(0.0, 1.0) for _ in range(8)] for _ in range(40)]
    emb[5] = [2.0 * x for x in emb[4]]
    paths["emb"] = f"{root}/emb"
    spark.createDataFrame(
        list(enumerate(emb)), "vec_id long, embedding array<double>"
    ).write.parquet(paths["emb"])
    return paths


#: configuration name -> ``CorpusCurationConfig`` keyword arguments, as a
#: function of the ``curation_corpus`` paths
CURATION_CONFIGS = {
    "plain": lambda p: {},
    "decontamination": lambda p: {"benchmark_path": p["bench"]},
    "mixture": lambda p: {"mixture_strata_col": "lang"},
    "decontamination+mixture": lambda p: {
        "benchmark_path": p["bench"], "mixture_strata_col": "lang"
    },
    "span_cut": lambda p: {"cut_spans_k": 5},
    "coverage_drop": lambda p: {"max_dup_share": 0.3, "dup_share_k": 5},
    "ensemble": lambda p: {
        "ensemble": True,
        "ensemble_clf_min_prob": 0.3,
        "lm_reference_path": p["lm_ref"],
        "dsir_target_path": p["dsir_target"],
        "ensemble_cap_per_domain": 2,
        "ensemble_cap_url_col": "url",
    },
    "classifier+best_quality": lambda p: {
        "quality_model_dir": p["clf"], "dedup_keep_best_quality": True
    },
    "semantic": lambda p: {"embeddings_path": p["emb"]},
    "every_stage": lambda p: {
        "url_col": "url",
        "max_per_domain": 12,
        "line_filter_min_lines": 1,
        "dsir_target_path": p["dsir_target"],
        "dsir_keep": 24,
        "lm_reference_path": p["lm_ref"],
    },
}


#: Spark jobs of one run of each configuration on ``curation_corpus``
#: (local[4], 4 shuffle partitions). Each stage's count job fills its
#: cache, so neither the next stage nor the export re-runs a stage, and
#: a run opens its classifier artifact once, however many stages use it.
#: Every parquet input, reference and artifact is read through
#: ``read_parquet``, whose footer schema costs no job.
JOB_CEILINGS = {
    "plain": 25,
    "decontamination": 34,
    "mixture": 30,
    "decontamination+mixture": 39,
    "span_cut": 34,
    "coverage_drop": 34,
    "ensemble": 61,
    "classifier+best_quality": 34,
    "semantic": 44,
    "every_stage": 67,
}

_SOURCE = (
    Path(__file__).resolve().parent.parent
    / "mini_feature_store_spark" / "pipelines" / "corpus_curate.py"
)


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory) -> dict[str, str]:
    return curation_corpus(spark, str(tmp_path_factory.mktemp("curation")))


@contextlib.contextmanager
def _job_group(spark, group: str):
    """Tag the Spark jobs run inside the block; the yielded list holds
    their ids once the block exits, whether it raised or not."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    jobs: list[int] = []
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _curate(spark, input_path: str, out: str, **kw):
    from mini_feature_store_spark.pipelines.corpus_curate import (
        CorpusCurationConfig,
        run_corpus_curation,
    )

    return run_corpus_curation(spark, CorpusCurationConfig(input_path, out, **kw))


def test_one_persist_site():
    """Every frame a curation run persists goes through the stage owner."""
    assert len(re.findall(r"\.persist\(", _SOURCE.read_text())) == 1


@pytest.mark.parametrize("name", list(CURATION_CONFIGS))
def test_curation_job_ceiling_and_no_cache_left(spark, corpus, tmp_path, name):
    """Each configuration stays within its job ceiling and, run on a
    clean cache manager, leaves it empty."""
    spark.catalog.clearCache()
    with _job_group(spark, f"curate-{name}") as jobs:
        funnel = _curate(
            spark, corpus["docs"], str(tmp_path / "out"),
            **CURATION_CONFIGS[name](corpus),
        )
    assert len(jobs) <= JOB_CEILINGS[name], (name, len(jobs))
    assert _cache_is_empty(spark)
    assert funnel["written"] == spark.read.parquet(str(tmp_path / "out")).count()


@pytest.fixture(scope="module")
def bad_artifacts(spark, corpus, tmp_path_factory) -> dict[str, str]:
    """A dsir-train artifact without a calibrated threshold, an empty
    doremi-weights artifact, a tokenizer directory holding neither
    tokenizer table and a classifier artifact whose feature set no
    longer matches the scorer's."""
    from mini_feature_store_spark import cli
    from mini_feature_store_spark.operators.text import save_quality_classifier

    root = tmp_path_factory.mktemp("artifacts")
    dsir = str(root / "dsir")
    assert cli.main(
        ["dsir-train", "--target-path", corpus["dsir_target"],
         "--raw-path", corpus["docs"], "--output-dir", dsir,
         "--n-buckets", "256"]
    ) == 0
    mix = str(root / "mixture")
    spark.createDataFrame([], "domain string, weight double").write.parquet(
        mix + "/weights.parquet"
    )
    tok = root / "tokenizer"
    tok.mkdir()
    clf = str(root / "clf")
    save_quality_classifier({"weights": {"n_words": 0.5}, "bias": 0.1}, clf)
    return {"dsir": dsir, "mixture": mix, "tokenizer": str(tok), "clf": clf}


def _open_alone(spark, name: str, a: dict[str, str]) -> None:
    """Open the bad artifact of ``_ARTIFACT_ERRORS[name]`` the way a
    caller would without the pipeline."""
    from mini_feature_store_spark.operators.dsir import load_dsir_artifact
    from mini_feature_store_spark.operators.text import load_quality_classifier

    if name == "uncalibrated_dsir":
        load_dsir_artifact(spark, a["dsir"])
    elif name == "empty_mixture_weights":
        spark.read.parquet(a["mixture"] + "/weights.parquet").collect()
    elif name == "stale_classifier":
        with pytest.raises(ValueError):
            load_quality_classifier(spark, a["clf"])
    else:  # a directory listing, no job
        assert not any(Path(a["tokenizer"]).iterdir())


_ARTIFACT_ERRORS = {
    "uncalibrated_dsir": (
        lambda a: {"dsir_model_dir": a["dsir"], "dsir_use_suggested": True},
        "no suggested_min_log_weight",
    ),
    "empty_mixture_weights": (
        lambda a: {"mixture_strata_col": "lang",
                   "mixture_weights_dir": a["mixture"]},
        "empty mixture-weights artifact",
    ),
    "missing_tokenizer": (
        lambda a: {"pack_max_tokens": 64, "pack_tokenizer_dir": a["tokenizer"]},
        "holds neither merges.parquet nor pieces.parquet",
    ),
    "stale_classifier": (
        lambda a: {"quality_model_dir": a["clf"]},
        "does not match QUALITY_CLF_FEATURES",
    ),
}


@pytest.mark.parametrize("kw,match", [
    ({"mixture_strata_col": "lang", "mixture_alpha": 1.5}, "mixture_alpha"),
    ({"pack_max_tokens": 0}, "pack_max_tokens"),
    ({"dsir_keep": 4}, "neither dsir_target_path nor dsir_model_dir"),
    ({"ensemble": True}, "needs the LM signal"),
], ids=["mixture_alpha", "pack_max_tokens", "dsir_keep", "ensemble"])
def test_config_errors_raise_before_any_job(spark, corpus, tmp_path, kw, match):
    with _job_group(spark, f"bad-config-{sorted(kw)}") as jobs, pytest.raises(
        ValueError, match=match
    ):
        _curate(spark, corpus["docs"], str(tmp_path / "out"), **kw)
    assert jobs == []


@pytest.mark.parametrize("name", list(_ARTIFACT_ERRORS))
def test_artifact_errors_raise_before_the_first_stage_job(
    spark, bad_artifacts, tmp_path, name
):
    """The input path does not exist, so the first stage job would fail
    with a different error; the run spends no more jobs than opening the
    artifact alone does, and none when opening it needs none."""
    kw, match = _ARTIFACT_ERRORS[name]
    with _job_group(spark, f"bad-artifact-{name}") as jobs, pytest.raises(
        ValueError, match=match
    ):
        _curate(spark, str(tmp_path / "missing"), str(tmp_path / "out"),
                **kw(bad_artifacts))
    with _job_group(spark, f"open-artifact-{name}") as alone:
        _open_alone(spark, name, bad_artifacts)
    assert len(jobs) <= len(alone)
    assert bool(jobs) == bool(alone)


def test_failed_runs_leave_no_cache(spark, corpus, bad_artifacts, tmp_path,
                                    monkeypatch):
    """A run that fails on a bad artifact, or in a stage after others
    have cached their output, leaves a clean cache manager empty."""
    import mini_feature_store_spark.operators.text as text

    for name, (kw, match) in _ARTIFACT_ERRORS.items():
        spark.catalog.clearCache()
        with pytest.raises(ValueError, match=match):
            _curate(spark, corpus["docs"], str(tmp_path / name),
                    **kw(bad_artifacts))
        assert _cache_is_empty(spark), name

    def fail(*args, **kwargs):
        raise RuntimeError("decontamination failed")

    monkeypatch.setattr(text, "decontaminate", fail)
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match="decontamination failed"):
        _curate(spark, corpus["docs"], str(tmp_path / "stage"),
                benchmark_path=corpus["bench"])
    assert _cache_is_empty(spark)


def test_cli_flags_fall_through_to_config_defaults():
    from mini_feature_store_spark.cli import build_parser, corpus_curation_config
    from mini_feature_store_spark.pipelines.corpus_curate import (
        CorpusCurationConfig,
    )

    args = build_parser().parse_args(
        ["corpus-curate", "--input-path", "in", "--output-path", "out"]
    )
    assert corpus_curation_config(args) == CorpusCurationConfig("in", "out")


def test_cli_sets_every_flag_on_its_config_field():
    from mini_feature_store_spark.cli import build_parser, corpus_curation_config
    from mini_feature_store_spark.pipelines.corpus_curate import (
        CorpusCurationConfig,
    )

    argv = (
        "corpus-curate --input-path in --output-path out "
        "--benchmark-path bench --embeddings-path emb --min-tokens 7 "
        "--min-quality 0.4 --jaccard-threshold 0.6 --semantic-threshold 0.9 "
        "--semantic-k 8 --contamination-threshold 0.3 --url-col url "
        "--max-per-domain 3 --line-filter-min-lines 2 --quality-model-dir clf "
        "--dsir-target-path tgt --dsir-keep 10 --dsir-seed 7 "
        "--dsir-model-dir dm --dsir-min-log-weight -1.5 "
        "--dsir-suggested-threshold --lm-reference-path ref --lm-max-nll 6.5 "
        "--lm-order 3 --dedup-keep-best-quality --ensemble "
        "--ensemble-clf-min-prob 0.6 --ensemble-lm-max-nll 5.5 "
        "--ensemble-cap 4 --ensemble-cap-mode approx "
        "--ensemble-cap-url-col curl --cut-spans-k 13 --max-dup-share 0.8 "
        "--dup-share-k 20 --shards 2 --pack-max-tokens 128 --pack-shards 3 "
        "--pack-tokenizer-dir tok --mixture-strata-col lang "
        "--mixture-alpha 0.3 --mixture-by-tokens --mixture-weights-dir mw"
    ).split()
    parser = build_parser()
    sub = next(
        a for a in parser._actions if isinstance(a, argparse._SubParsersAction)
    ).choices["corpus-curate"]
    flags = {o for a in sub._actions for o in a.option_strings} - {"-h", "--help"}
    assert flags <= set(argv)
    assert corpus_curation_config(parser.parse_args(argv)) == (
        CorpusCurationConfig(
            input_path="in", output_path="out", benchmark_path="bench",
            embeddings_path="emb", min_tokens=7, min_quality=0.4,
            jaccard_threshold=0.6, semantic_threshold=0.9, semantic_k=8,
            contamination_threshold=0.3, n_shards=2, url_col="url",
            max_per_domain=3, line_filter_min_lines=2,
            quality_model_dir="clf", dsir_target_path="tgt", dsir_keep=10,
            dsir_seed=7, dsir_model_dir="dm", dsir_min_log_weight=-1.5,
            dsir_use_suggested=True, lm_reference_path="ref",
            lm_max_nll=6.5, lm_order=3, cut_spans_k=13, max_dup_share=0.8,
            dup_share_k=20, pack_max_tokens=128, pack_shards=3,
            pack_tokenizer_dir="tok", dedup_keep_best_quality=True,
            ensemble=True, ensemble_clf_min_prob=0.6, ensemble_lm_max_nll=5.5,
            ensemble_cap_per_domain=4, ensemble_cap_mode="approx",
            ensemble_cap_url_col="curl", mixture_strata_col="lang",
            mixture_alpha=0.3, mixture_by_tokens=True,
            mixture_weights_dir="mw",
        )
    )
