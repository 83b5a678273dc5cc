"""Output checks. They run outside the timed region, on plain Python
data, and return a list of problems (empty = pass); every failed
check counts against the run's ``failed`` iterations.

Expected outputs come from the package's Python twins: the mock
provider's rule (``inference.mock.MockInferenceClient``) for the batch
workloads, and a pure-Python MinHash-LSH twin of ``operators.dedup``
for the near-duplicate pairs."""

from __future__ import annotations

import hashlib
import json
from collections import defaultdict

import numpy as np
import pyarrow as pa

from genai_batch_processor_spark.functions import hashing
from genai_batch_processor_spark.inference import mock
from genai_batch_processor_spark.operators import dedup

_MAX_LISTED = 5  # problems listed per kind; the count is always given


def _problem(kind: str, items: list) -> list[str]:
    if not items:
        return []
    return [f"{kind}: {len(items)} (e.g. {items[:_MAX_LISTED]})"]


# -- batch workloads ----------------------------------------------------------


def custom_id(idx: int) -> str:
    return f"request-{idx}"


def expected_batch(table: pa.Table) -> dict:
    """Per-row expectation for a deduplicated Vertex batch run over
    ``table``: the ordinal ``assign_ids`` gives each row (rank of
    ``doc_id``), the mock's error fate, and the label the Python twin
    returns. A row takes its fate and answer from its prompt group's
    representative (the smallest ordinal sharing its text)."""
    doc_id = table["doc_id"].to_numpy()
    texts = table["text"].to_pylist()
    idx = np.empty(len(doc_id), dtype=np.int64)
    idx[np.argsort(doc_id, kind="stable")] = np.arange(len(doc_id))
    by_idx = [""] * len(texts)
    for i, t in zip(idx.tolist(), texts):
        by_idx[i] = t
    rep: dict[str, int] = {}
    for i, t in enumerate(by_idx):
        rep.setdefault(t, i)
    client = mock.MockInferenceClient()
    answers: list[str | None] = []
    for t in by_idx:
        resp = client.complete(custom_id(rep[t]), t)
        if resp["error"] is not None:
            answers.append(None)
        else:
            content = resp["response"]["body"]["choices"][0]["message"]["content"]
            answers.append(json.loads(content)["answer"])
    return {
        "texts": by_idx,
        "answers": answers,
        "distinct": len(rep),
    }


def check_batch(
    expected: dict,
    answered_idx: list[int],
    answers: list[str | None],
    error_ids: list[str],
) -> list[str]:
    """Every input row lands exactly once in results ∪ errors, the
    error set is the mock rule's, each answer is the twin's label, and
    rows sharing a prompt share an answer."""
    want = expected["answers"]
    n = len(want)
    problems: list[str] = []
    seen: dict[int, str] = {}  # row ordinal -> "r"esult / "e"rror
    dup = []
    rows = [(i, "r") for i in answered_idx] + [
        (int(c.split("-")[1]) if c and c.startswith("request-") else -1, "e")
        for c in error_ids
    ]
    for i, kind in rows:
        if i in seen:
            dup.append(i)
        seen[i] = kind
    problems += _problem("rows reported twice", dup)
    problems += _problem("rows missing", [i for i in range(n) if i not in seen])
    problems += _problem("unknown rows", [i for i in seen if not 0 <= i < n])
    problems += _problem(
        "error set differs",
        [
            i
            for i in range(n)
            if i in seen and (seen[i] == "e") != (want[i] is None)
        ],
    )
    problems += _problem(
        "wrong answers",
        [
            (i, a, want[i])
            for i, a in zip(answered_idx, answers)
            if 0 <= i < n and want[i] is not None and a != want[i]
        ],
    )
    by_text: dict[str, set] = defaultdict(set)
    for i, a in zip(answered_idx, answers):
        if 0 <= i < n:
            by_text[expected["texts"][i]].add(a)
    problems += _problem(
        "prompt groups with differing answers",
        [sorted(map(str, v)) for v in by_text.values() if len(v) > 1],
    )
    return problems


def check_billing(expected: dict, requests_sent: int) -> list[str]:
    """Requests crossing the provider boundary: one per distinct prompt."""
    want = expected["distinct"]
    if requests_sent != want:
        return [f"provider requests {requests_sent} != expected {want}"]
    return []


# -- near-duplicate ingest ----------------------------------------------------

_FAMILY = hashing.hash_family(dedup.MINHASH_K)
_M = hashing.MERSENNE_31


def _md5_int(s: str, hex_digits: int) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:hex_digits], 16)


def shingle_hashes(text: str, n: int = dedup.SHINGLE_N) -> set[int]:
    """Twin of ``dedup.shingle_hashes``: distinct word n-gram 32-bit
    hashes (the whole text when it has fewer than n words)."""
    ws = text.split(" ")
    sh = (
        [" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)]
        if len(ws) >= n
        else [text]
    )
    return {_md5_int(s, 8) for s in set(sh)}


def band_keys(hs: set[int]) -> list[int]:
    """Twin of ``dedup.minhash_signature`` + ``dedup.band_key_at``."""
    sig = [min([_M] + [(a % _M * h + b) % _M for h in hs]) for a, b in _FAMILY]
    r = dedup.LSH_ROWS
    return [
        _md5_int("-".join(map(str, sig[j * r:(j + 1) * r])), 15)
        for j in range(dedup.LSH_BANDS)
    ]


def jaccard(a: set[int], b: set[int]) -> float:
    return len(a & b) / len(a | b)


def expected_pairs(texts: dict[int, str], planted: list[tuple[int, int]]) -> dict:
    """The planted pairs the LSH probe must report: Jaccard at or above
    the threshold AND at least one shared band key (MinHash-LSH is a
    candidate filter, so a planted near-duplicate whose bands all differ
    is legitimately absent). Maps ``(id_a, id_b)`` to the Jaccard."""
    out = {}
    for a, b in planted:
        ha, hb = shingle_hashes(texts[a]), shingle_hashes(texts[b])
        j = jaccard(ha, hb)
        shared = any(x == y for x, y in zip(band_keys(ha), band_keys(hb)))
        if shared and j >= dedup.JACCARD_THRESHOLD:
            out[(a, b)] = j
    return out


def pair_digest(pairs) -> str:
    h = hashlib.sha256()
    for a, b in sorted((int(p[0]), int(p[1])) for p in pairs):
        h.update(f"{a},{b}\n".encode())
    return h.hexdigest()


def check_pairs(
    reported: list[tuple[int, int, float]],
    texts: dict[int, str],
    expected: dict,
) -> list[str]:
    """Every reported pair is ordered, reported once, and its Jaccard,
    recomputed here, meets the threshold and matches the reported one;
    the pair set's digest equals the expected set's."""
    problems: list[str] = []
    seen = set()
    dup, bad = [], []
    for a, b, j in reported:
        if (a, b) in seen:
            dup.append((a, b))
        seen.add((a, b))
        if a >= b or a not in texts or b not in texts:
            bad.append((a, b, j))
            continue
        jr = jaccard(shingle_hashes(texts[a]), shingle_hashes(texts[b]))
        if jr < dedup.JACCARD_THRESHOLD or abs(jr - j) > 1e-6:
            bad.append((a, b, j, round(jr, 6)))
    problems += _problem("pairs reported twice", dup)
    problems += _problem("pairs failing the Jaccard recheck", bad)
    if pair_digest(reported) != pair_digest(expected):
        problems.append("pair digest differs from the expected set")
        problems += _problem(
            "expected pairs missing", sorted(set(expected) - seen)
        )
        problems += _problem("unexpected pairs", sorted(seen - set(expected)))
    return problems
