"""Each checker passes a correct output and rejects a corrupted one.
The last test pins the Python twins to the engine's own expressions."""

from __future__ import annotations

import numpy as np
import pytest

from perfbench import checks, gen


def _observed(expected: dict):
    """A correct batch output, built from the expectation."""
    idx, answers, errors = [], [], []
    for i, a in enumerate(expected["answers"]):
        if a is None:
            errors.append(checks.custom_id(i))
        else:
            idx.append(i)
            answers.append(a)
    return idx, answers, errors


@pytest.fixture(scope="module")
def dedupe_expected():
    return checks.expected_batch(gen.batch_table(11, 400, 40))


def test_correct_batch_outputs_pass(dedupe_expected):
    assert dedupe_expected["answers"].count(None) > 0  # errors are exercised
    assert checks.check_batch(dedupe_expected, *_observed(dedupe_expected)) == []
    assert checks.check_billing(dedupe_expected, 40) == []


def test_dropped_row_is_rejected(dedupe_expected):
    idx, answers, errors = _observed(dedupe_expected)
    problems = checks.check_batch(dedupe_expected, idx[1:], answers[1:], errors)
    assert any("missing" in p for p in problems)
    problems = checks.check_batch(dedupe_expected, idx, answers, errors[1:])
    assert any("missing" in p for p in problems)


def test_duplicated_row_is_rejected(dedupe_expected):
    idx, answers, errors = _observed(dedupe_expected)
    problems = checks.check_batch(
        dedupe_expected, idx + idx[:1], answers + answers[:1], errors
    )
    assert any("twice" in p for p in problems)


def test_flipped_answer_is_rejected(dedupe_expected):
    idx, answers, errors = _observed(dedupe_expected)
    answers[3] = next(a for a in ("positive", "negative") if a != answers[3])
    problems = checks.check_batch(dedupe_expected, idx, answers, errors)
    assert any("wrong answers" in p for p in problems)


def test_error_moved_to_results_is_rejected(dedupe_expected):
    idx, answers, errors = _observed(dedupe_expected)
    moved = int(errors[0].split("-")[1])
    problems = checks.check_batch(
        dedupe_expected, idx + [moved], answers + ["neutral"], errors[1:]
    )
    assert any("error set differs" in p for p in problems)


def test_fanned_out_row_with_wrong_answer_is_rejected(dedupe_expected):
    idx, answers, errors = _observed(dedupe_expected)
    texts = dedupe_expected["texts"]
    # a duplicate (non-representative) row of an answered prompt group
    k = next(
        k for k, i in enumerate(idx) if texts.index(texts[i]) != i
    )
    answers[k] = next(a for a in ("positive", "negative") if a != answers[k])
    problems = checks.check_batch(dedupe_expected, idx, answers, errors)
    assert any("wrong answers" in p for p in problems)
    assert any("differing answers" in p for p in problems)


def test_billing_mismatch_is_rejected(dedupe_expected):
    assert checks.check_billing(dedupe_expected, 41)
    assert checks.check_billing(dedupe_expected, 400)


@pytest.fixture(scope="module")
def ingest_case():
    data = gen.ingest_inputs(13, 400, (2, 1), 40)
    texts = dict(zip(data["corpus"]["doc_id"].to_pylist(),
                     data["corpus"]["text"].to_pylist()))
    for wave in data["waves"]:
        for t in wave:
            texts.update(zip(t["doc_id"].to_pylist(), t["text"].to_pylist()))
    expected = checks.expected_pairs(texts, data["planted"])
    reported = [(a, b, round(j, 6)) for (a, b), j in sorted(expected.items())]
    return texts, expected, reported


def test_correct_pairs_pass(ingest_case):
    texts, expected, reported = ingest_case
    assert len(expected) > 20
    assert checks.check_pairs(reported, texts, expected) == []


def test_missing_pair_is_rejected(ingest_case):
    texts, expected, reported = ingest_case
    problems = checks.check_pairs(reported[1:], texts, expected)
    assert any("missing" in p for p in problems)


def test_non_duplicate_pair_is_rejected(ingest_case):
    texts, expected, reported = ingest_case
    a = reported[0][0]
    b = next(i for i in texts if i > a and (a, i) not in expected)
    problems = checks.check_pairs(reported + [(a, b, 0.9)], texts, expected)
    assert any("Jaccard recheck" in p for p in problems)
    assert any("unexpected" in p for p in problems)


def test_wrong_jaccard_is_rejected(ingest_case):
    texts, expected, reported = ingest_case
    a, b, j = reported[0]
    problems = checks.check_pairs([(a, b, j - 0.01)] + reported[1:], texts, expected)
    assert any("Jaccard recheck" in p for p in problems)


def test_twins_match_the_engine(spark):
    """The Python twins agree with the engine's own expressions: the
    mock's label and error rule, and MinHash band keys / Jaccard."""
    from pyspark.sql import functions as F

    from genai_batch_processor_spark.inference import mock
    from genai_batch_processor_spark.operators import dedup

    rng = np.random.default_rng(3)
    texts = gen.random_texts(rng, gen.vocabulary(rng), 20, (2, 60))
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id, r.band): r.key
        for r in dedup.minhash_index(df, "doc_id", "text").collect()
    }
    for i, t in rows:
        keys = checks.band_keys(checks.shingle_hashes(t))
        assert [got[(i, b)] for b in range(len(keys))] == keys
    labels = df.select(
        "doc_id",
        mock.label_expr(F.col("text")).alias("label"),
        mock.is_error_expr(F.format_string("request-%d", "doc_id")).alias("err"),
    ).collect()
    client = mock.MockInferenceClient()
    for r in labels:
        resp = client.complete(checks.custom_id(r.doc_id), texts[r.doc_id])
        assert (resp["error"] is not None) == r.err
        if not r.err:
            content = resp["response"]["body"]["choices"][0]["message"]["content"]
            assert content == '{"answer": "%s"}' % r.label
