from __future__ import annotations

import io

import pyarrow.parquet as pq

from perfbench import checks, gen


def _bytes(table) -> bytes:
    buf = io.BytesIO()
    pq.write_table(table, buf)
    return buf.getvalue()


def _ingest_bytes(seed: int) -> list[bytes]:
    data = gen.ingest_inputs(seed, 300, (2, 1), 20)
    tables = [data["corpus"]] + [t for wave in data["waves"] for t in wave]
    return [_bytes(t) for t in tables] + [repr(data["planted"]).encode()]


def test_same_seed_gives_byte_identical_inputs():
    assert _bytes(gen.batch_table(7, 500, 50)) == _bytes(gen.batch_table(7, 500, 50))
    assert _ingest_bytes(7) == _ingest_bytes(7)


def test_different_seed_gives_different_inputs():
    assert _bytes(gen.batch_table(7, 500, 50)) != _bytes(gen.batch_table(8, 500, 50))
    a, b = _ingest_bytes(7), _ingest_bytes(8)
    assert all(x != y for x, y in zip(a, b))


def test_batch_table_has_exactly_the_distinct_prompts_asked_for():
    t = gen.batch_table(3, 2000, 200)
    texts = t["text"].to_pylist()
    assert t.num_rows == 2000 and len(set(texts)) == 200
    assert len(set(t["doc_id"].to_pylist())) == 2000
    top = max(texts.count(x) for x in set(texts))
    assert top > 2000 // 10  # Zipf skew: one hot prompt


def test_planted_copies_are_near_duplicates_of_their_source():
    data = gen.ingest_inputs(5, 300, (2, 1), 20)
    texts = dict(zip(data["corpus"]["doc_id"].to_pylist(),
                     data["corpus"]["text"].to_pylist()))
    for wave in data["waves"]:
        for t in wave:
            texts.update(zip(t["doc_id"].to_pylist(), t["text"].to_pylist()))
    assert len(data["planted"]) == 3 * 10 + 2
    for a, b in data["planted"]:
        j = checks.jaccard(checks.shingle_hashes(texts[a]),
                           checks.shingle_hashes(texts[b]))
        assert 0.8 <= j < 1.0
