"""End-to-end lifecycle tests: entry smoke, pipeline facade, runner parity,
JSONL round-trip with corrupt-record quarantine."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from genai_batch_processor_spark import OpenAIBatchPipeline
from genai_batch_processor_spark.plans.pipeline import VertexAIBatchPipeline
from genai_batch_processor_spark.sources import bigquery
from genai_batch_processor_spark.functions import ids
from genai_batch_processor_spark.inference import mock, runner
from genai_batch_processor_spark.operators import requests, responses
from genai_batch_processor_spark.sources import jsonl
from genai_batch_processor_spark.sources.tables import load_table


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.limit(10).collect()
    assert len(rows) > 0
    assert set(df.columns) == {"doc_id", "lang", "status", "answer"}


def test_queries_have_oracles_or_are_flagged(spark):
    qs = entrymod.queries()
    sqls = entrymod.oracle_sql()
    assert qs, "queries() must not be empty"
    assert set(sqls).issubset(set(qs))


def test_pipeline_facade_end_to_end(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    docs = ids.assign_ids(docs, "doc_id")
    pipe = OpenAIBatchPipeline(spark, work_dir=str(tmp_path))
    results, errors = pipe.run(docs, poll_interval_seconds=0.01)
    n_res, n_err = results.count(), errors.count()
    assert n_res + n_err == 50
    assert n_err > 0  # deterministic mock injects errors
    got = results.select(
        responses.extract_answer(
            responses.extract_content(F.col("resp"))
        ).alias("answer")
    ).collect()
    assert all(r["answer"] in mock.DEFAULT_LABELS for r in got)
    # manifest persisted for resume-by-batch_id
    manifests = os.listdir(tmp_path / "manifests")
    assert manifests
    state = json.load(open(tmp_path / "manifests" / manifests[0]))
    assert state["state"] == "completed" and state["batch_ids"]


def test_mapinpandas_runner_matches_column_mock(spark, sf_dir):
    """The distributed mapInPandas inference path and the pure-column mock
    must produce identical responses (same deterministic algorithm)."""
    docs = load_table(spark, sf_dir, "documents").limit(100)
    docs = ids.assign_ids(docs, "doc_id")
    docs = docs.withColumn(
        "prompt", requests.classification_prompt("text", mock.DEFAULT_LABELS)
    ).withColumn("custom_id", ids.custom_id("idx"))

    via_runner = runner.run_inference(
        docs, mock.MockInferenceClient, micro_batch_size=16
    ).select(F.to_json("resp").alias("j"))
    via_columns = docs.select(
        F.to_json(
            mock.mock_response_columns(F.col("custom_id"), F.col("prompt"))
        ).alias("j")
    )
    assert sorted(r["j"] for r in via_runner.collect()) == sorted(
        r["j"] for r in via_columns.collect()
    )


def test_jsonl_roundtrip_and_quarantine(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").limit(20)
    docs = ids.assign_ids(docs, "doc_id")
    reqs = requests.build_openai_requests(
        docs,
        id_col="idx",
        user_content=F.array(requests.text_part(F.col("text"))),
    )
    path = str(tmp_path / "reqs")
    jsonl.write_jsonl(reqs.select("request.*"), path)
    # copy the shards into a dir Spark has never listed, plus a corrupt line
    # (appending in place would trip Spark's shared file-status cache)
    dirty = tmp_path / "reqs_dirty"
    dirty.mkdir()
    for part in os.listdir(path):
        if part.startswith("part-"):
            with open(os.path.join(path, part)) as src:
                (dirty / part).write_text(src.read())
    (dirty / "part-corrupt.txt").write_text("{this is not json\n")
    good, bad = jsonl.read_request_jsonl(spark, str(dirty))
    assert good.count() == 20
    assert bad.count() == 1
    assert good.select("custom_id").distinct().count() == 20


def test_sharded_write(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "sharded")
    jsonl.write_jsonl(
        docs.select("doc_id", "text"), path, max_records_per_file=100
    )
    parts = [p for p in os.listdir(path) if p.startswith("part-")]
    assert len(parts) >= 5  # 500 rows / 100 per file


def test_empty_input_short_circuit(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").limit(0)
    docs = ids.assign_ids(docs, "doc_id")
    pipe = OpenAIBatchPipeline(spark, work_dir=str(tmp_path))
    results, errors = pipe.run(docs)
    assert results.count() == 0 and errors.count() == 0


def test_empty_input_schemas_match_nonempty_run(spark, sf_dir, tmp_path):
    """The empty short-circuit must return the REAL result/error schemas —
    downstream code that unions empty-run and normal-run outputs must not
    break only on the empty path."""
    docs = load_table(spark, sf_dir, "documents").limit(5)
    docs = ids.assign_ids(docs, "doc_id")
    for dedupe in (False, True):  # a deduped run re-keys its responses
        full = OpenAIBatchPipeline(
            spark, work_dir=str(tmp_path / f"full{dedupe}")
        )
        res_full, err_full = full.run(
            docs, dedupe_prompts=dedupe, poll_interval_seconds=0.01
        )
        empty_pipe = OpenAIBatchPipeline(
            spark, work_dir=str(tmp_path / f"empty{dedupe}")
        )
        res_empty, err_empty = empty_pipe.run(
            docs.limit(0), dedupe_prompts=dedupe
        )
        # unionByName raises on schema mismatch — this IS the assertion
        assert res_full.unionByName(res_empty).count() == res_full.count()
        assert err_full.unionByName(err_empty).count() == err_full.count()
        assert res_empty.schema == res_full.schema
        assert err_empty.schema == err_full.schema


def test_input_passthrough_matches_built_run(spark, sf_dir, tmp_path):
    """run(input_path=...) skips the build stage and must produce results
    identical to a built run over the same input (vtx:405-407 semantics)."""
    docs = load_table(spark, sf_dir, "documents").limit(30)
    docs = ids.assign_ids(docs, "doc_id")
    built = OpenAIBatchPipeline(spark, work_dir=str(tmp_path / "built"))
    res_b, err_b = built.run(docs, poll_interval_seconds=0.01)
    # the built run's request shards are the pre-existing input
    prebuilt_path = os.path.join(built.work_dir, "input")
    passthru = OpenAIBatchPipeline(spark, work_dir=str(tmp_path / "pass"))
    res_p, err_p = passthru.run(
        docs, input_path=prebuilt_path, poll_interval_seconds=0.01
    )
    key = lambda df: sorted(  # noqa: E731
        r["j"] for r in df.select(F.to_json(F.struct(*df.columns)).alias("j")).collect()
    )
    assert key(res_p) == key(res_b)
    assert key(err_p) == key(err_b)


def test_cleanup_removes_owned_work_dir(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(5)
    docs = ids.assign_ids(docs, "doc_id")
    pipe = OpenAIBatchPipeline(spark)  # mints its own work_dir
    pipe.run(docs, poll_interval_seconds=0.01)
    wd = pipe.work_dir
    assert os.path.exists(wd)
    removed = pipe.cleanup()
    assert wd in removed and not os.path.exists(wd)
    assert pipe.cleanup() == []  # idempotent


def test_vertex_pipeline_end_to_end(spark, sf_dir, tmp_path):
    """Full Vertex lifecycle: keyed envelope out, VERTEX_RESPONSE rows
    back, join-back via the passthrough custom_id (no positional zip)."""
    docs = load_table(spark, sf_dir, "documents").limit(40)
    docs = ids.assign_ids(docs, "doc_id")
    pipe = VertexAIBatchPipeline(spark, work_dir=str(tmp_path))
    results, errors = pipe.run(docs, poll_interval_seconds=0.01)
    n_res, n_err = results.count(), errors.count()
    assert n_res + n_err == 40
    assert n_err > 0  # deterministic mock injects errors
    got = results.select(
        F.col("doc_id"),
        responses.extract_vertex_text(F.col("resp")).alias("label"),
    ).collect()
    assert all(r["label"] in mock.DEFAULT_LABELS for r in got)
    # every result row joined back to the right input row
    echo = results.select(
        F.col("custom_id"),
        F.col("idx"),
    ).collect()
    assert all(r["custom_id"] == f"request-{r['idx']}" for r in echo)


def test_vertex_table_to_table_via_store_double(spark, sf_dir, tmp_path):
    """bq:// in → bq:// out through the injectable TableStore double —
    the reference's BigQuery input-table + result-scan path
    (vtx:138-176, 282-296) without cloud credentials."""
    store = bigquery.LocalParquetTableStore(str(tmp_path / "bq"))
    docs = load_table(spark, sf_dir, "documents").limit(30)
    store.write_table(docs, "bq://proj.ds.docs_in")
    pipe = VertexAIBatchPipeline(
        spark, work_dir=str(tmp_path / "wd"), table_store=store
    )
    results, errors = pipe.run_table_to_table(
        "bq://proj.ds.docs_in",
        "bq://proj.ds.results_out",
        order_col="doc_id",
        poll_interval_seconds=0.01,
    )
    assert results.count() + errors.count() == 30
    # the results table is scannable back out of the store
    back = store.read_table(spark, "bq://proj.ds.results_out")
    assert back.count() == results.count()
    assert "resp" in back.columns and "doc_id" in back.columns


def test_bq_uri_parsing_and_dispatch(spark, tmp_path):
    assert bigquery.parse_bq_table("bq://p.d.t") == "p.d.t"
    assert bigquery.parse_bq_table("proj.ds.tbl") == "proj.ds.tbl"
    assert bigquery.parse_bq_table("ds.tbl") == "ds.tbl"
    import pytest as _pytest

    with _pytest.raises(ValueError):
        bigquery.parse_bq_table("bq://not a table id")
    with _pytest.raises(ValueError, match="TableStore"):
        bigquery.read_input(spark, "bq://p.d.t", None)
    # non-bq paths go through the plain parquet/extension dispatch
    df = spark.range(5)
    out = str(tmp_path / "plain")
    bigquery.write_output(df, out, None)  # no store needed
    assert bigquery.read_input(spark, out, None).count() == 5


def test_json_array_sink_matches_json_dumps(spark, sf_dir, tmp_path):
    """The pretty-JSON one-array sink (oai:232-239 form) must be
    byte-identical to json.dumps(rows, indent=2)."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang")
        .orderBy("doc_id")
        .limit(7)
    )
    path = str(tmp_path / "x_results.json")
    jsonl.write_json_array(docs, path)
    rows = [json.loads(l) for l in docs.toJSON().collect()]
    assert open(path).read() == json.dumps(rows, indent=2)
    # empty relation → empty array
    empty_path = str(tmp_path / "empty_results.json")
    jsonl.write_json_array(docs.limit(0), empty_path)
    assert open(empty_path).read() == "[]"


def test_cleanup_spares_caller_work_dir(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").limit(5)
    docs = ids.assign_ids(docs, "doc_id")
    pipe = OpenAIBatchPipeline(spark, work_dir=str(tmp_path))
    pipe.run(docs, poll_interval_seconds=0.01)
    assert pipe.cleanup() == []  # caller-owned: ledger never held it
    assert os.path.exists(str(tmp_path))


def test_compaction_reduces_file_count_preserving_rows(spark, sf_dir, tmp_path):
    """64-shard fragmented dataset -> size-targeted compaction: far
    fewer files, identical rows, and the file count tracks the byte
    budget computed from the REAL on-disk size."""
    from genai_batch_processor_spark.sources.compaction import (
        compact_parquet,
        dir_stats,
    )
    from genai_batch_processor_spark.sources.tables import load_table

    frag = str(tmp_path / "frag")
    docs = load_table(spark, sf_dir, "documents")
    docs.repartition(64).write.parquet(frag)
    n_before, total = dir_stats(spark, frag)
    assert n_before == 64

    out = str(tmp_path / "compact")
    # target sized to land at ~4 files for this fixture
    target = max(1, total // 4)
    n_planned = compact_parquet(spark, frag, out, target_bytes=target)
    n_after, _ = dir_stats(spark, out)
    assert n_after == n_planned <= 6
    assert n_after < n_before

    a = sorted(r.doc_id for r in spark.read.parquet(frag).collect())
    b = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert a == b


def test_schema_evolution_merge_on_read(spark, sf_dir, tmp_path):
    """A long-lived dataset gains columns over time: old shards lack
    them. mergeSchema reads must surface the union schema with NULLs
    for pre-evolution rows — the standard contract for a corpus that
    accretes metadata (quality scores, lang tags) across reprocessing
    generations."""
    from pyspark.sql import functions as F

    from genai_batch_processor_spark.sources.tables import load_table

    base = str(tmp_path / "evolving")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs.filter(F.col("doc_id") < 100).write.parquet(base + "/gen=1")
    docs.filter(F.col("doc_id") >= 100).withColumn(
        "quality", F.length("text").cast("double")
    ).write.parquet(base + "/gen=2")

    merged = spark.read.option("mergeSchema", "true").parquet(
        base + "/gen=1", base + "/gen=2"
    )
    assert set(merged.columns) == {"doc_id", "text", "quality"}
    old = merged.filter(F.col("doc_id") < 100)
    assert old.count() > 0
    assert old.filter(F.col("quality").isNotNull()).count() == 0
    new = merged.filter(F.col("doc_id") >= 100)
    assert new.filter(F.col("quality").isNull()).count() == 0
    assert merged.count() == docs.count()


def test_upsert_full_rewrite(spark, sf_dir, tmp_path):
    """Update rows replace same-key base rows; unmatched updates insert;
    everything else survives."""
    from pyspark.sql import functions as F

    from genai_batch_processor_spark.sources.tables import load_table
    from genai_batch_processor_spark.sources.upsert import upsert_parquet

    base_dir = str(tmp_path / "v1")
    out_dir = str(tmp_path / "v2")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    docs.write.parquet(base_dir)
    n = docs.count()

    updates = spark.createDataFrame(
        [(0, "REPLACED", "en"), (10**9, "INSERTED", "xx")],
        "doc_id long, text string, lang string",
    )
    upsert_parquet(spark, base_dir, updates, "doc_id", out_dir)
    out = spark.read.parquet(out_dir)
    assert out.count() == n + 1
    assert out.filter(F.col("doc_id") == 0).collect()[0].text == "REPLACED"
    assert out.filter(F.col("text") == "INSERTED").count() == 1


def test_upsert_partitioned_rewrites_only_touched_partitions(
    spark, sf_dir, tmp_path
):
    """Dynamic partition overwrite: untouched partitions keep their
    exact files; only the updated partition's directory changes."""
    import os

    from pyspark.sql import functions as F

    from genai_batch_processor_spark.sources.tables import load_table
    from genai_batch_processor_spark.sources.upsert import (
        upsert_partitioned,
    )

    tbl = str(tmp_path / "tbl")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    docs.write.partitionBy("lang").parquet(tbl)
    n = docs.count()

    def files_of(lang):
        d = os.path.join(tbl, f"lang={lang}")
        return sorted(
            f for f in os.listdir(d) if f.endswith(".parquet")
        )

    langs = sorted(
        r.lang for r in docs.select("lang").distinct().collect()
    )
    untouched = [lang for lang in langs if lang != "en"]
    before = {lang: files_of(lang) for lang in untouched}

    some_en = docs.filter(F.col("lang") == "en").limit(1).collect()[0]
    updates = spark.createDataFrame(
        [(some_en.doc_id, "REWRITTEN", "en"), (10**9, "NEWDOC", "en")],
        "doc_id long, text string, lang string",
    )
    parts = upsert_partitioned(spark, tbl, updates, "doc_id", "lang")
    assert parts == ["en"]

    out = spark.read.parquet(tbl)
    assert out.count() == n + 1
    assert (
        out.filter(F.col("doc_id") == some_en.doc_id).collect()[0].text
        == "REWRITTEN"
    )
    for lang in untouched:
        assert files_of(lang) == before[lang], f"{lang} was rewritten"


def test_delete_keys_partitioned_takedown(spark, sf_dir, tmp_path):
    """Row deletes rewrite only containing partitions; a partition left
    empty disappears entirely; untouched partitions keep exact files."""
    import os

    from pyspark.sql import functions as F

    from genai_batch_processor_spark.sources.tables import load_table
    from genai_batch_processor_spark.sources.upsert import (
        delete_keys_partitioned,
    )

    tbl = str(tmp_path / "tbl_del")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    docs.write.partitionBy("lang").parquet(tbl)
    langs = sorted(r.lang for r in docs.select("lang").distinct().collect())
    wipe_lang = langs[0]
    keep_lang = langs[1]

    def files_of(lang):
        d = os.path.join(tbl, f"lang={lang}")
        if not os.path.isdir(d):
            return None
        return sorted(f for f in os.listdir(d) if f.endswith(".parquet"))

    untouched = [lang for lang in langs[2:]]
    before = {lang: files_of(lang) for lang in untouched}

    # delete ALL docs of wipe_lang + one doc of keep_lang
    one_keep = docs.filter(F.col("lang") == keep_lang).limit(1).collect()[0]
    victims = docs.filter(F.col("lang") == wipe_lang).select(
        "doc_id"
    ).unionAll(
        spark.createDataFrame([(one_keep.doc_id,)], "doc_id long")
    )
    touched = delete_keys_partitioned(spark, tbl, victims, "doc_id", "lang")
    assert touched == sorted([wipe_lang, keep_lang])

    assert files_of(wipe_lang) is None  # emptied partition dropped
    out = spark.read.parquet(tbl)
    assert out.filter(F.col("lang") == wipe_lang).count() == 0
    assert out.filter(F.col("doc_id") == one_keep.doc_id).count() == 0
    expect = docs.count() - docs.filter(
        F.col("lang") == wipe_lang
    ).count() - 1
    assert out.count() == expect
    for lang in untouched:
        assert files_of(lang) == before[lang], f"{lang} was rewritten"


def test_orc_roundtrip_preserves_values(spark, sf_dir, tmp_path):
    """ORC source/sink: lineitem survives parquet→ORC→read bit-exactly
    (schema and row-level values), and predicates push into the ORC
    scan like they do for parquet."""
    from pyspark.sql import functions as F

    from genai_batch_processor_spark.sources.tables import load_table

    out = str(tmp_path / "li_orc")
    li = load_table(spark, sf_dir, "lineitem")
    li.write.orc(out)
    back = spark.read.orc(out)
    assert back.schema == li.schema
    a = li.agg(
        F.count(F.lit(1)), F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
    ).collect()[0]
    b = back.agg(
        F.count(F.lit(1)), F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
    ).collect()[0]
    assert tuple(a) == tuple(b)

    plan = spark._jvm.PythonSQLUtils.explainString(
        back.filter(F.col("l_quantity") > 40.0)
        ._jdf.queryExecution(),
        "formatted",
    )
    assert "PushedFilters: [" in plan and "l_quantity" in plan


def test_gzip_jsonl_roundtrip(spark, sf_dir, tmp_path):
    """Real corpora arrive as .jsonl.gz: the JSONL reader must consume
    gzip shards transparently (codec inferred from extension) with the
    same schema and values as the uncompressed form."""
    import gzip
    import os

    from pyspark.sql import functions as F

    from genai_batch_processor_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    plain = str(tmp_path / "plain")
    docs.select(F.to_json(F.struct("doc_id", "text")).alias("value")) \
        .write.text(plain)

    gzdir = str(tmp_path / "gz")
    os.makedirs(gzdir)
    for name in os.listdir(plain):
        if not name.startswith("part-"):
            continue
        with open(os.path.join(plain, name), "rb") as src:
            with gzip.open(
                os.path.join(gzdir, name + ".gz"), "wb"
            ) as dst:
                dst.write(src.read())

    back = spark.read.schema("doc_id LONG, text STRING").json(gzdir)
    assert back.count() == docs.count()
    a = sorted(r.doc_id for r in back.collect())
    b = sorted(r.doc_id for r in docs.collect())
    assert a == b


def test_ignore_corrupt_files_salvages_good_shards(spark, sf_dir, tmp_path):
    """A 100 TB scan WILL meet a truncated shard eventually; with
    ignoreCorruptFiles the scan salvages every healthy file instead of
    dying, and without it the corruption is a loud error — both
    behaviors pinned."""
    import os

    from pyspark.sql import functions as F

    from genai_batch_processor_spark.sources.tables import load_table

    out = str(tmp_path / "with_corrupt")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs.repartition(4).write.parquet(out)
    with open(os.path.join(out, "part-99999-garbage.parquet"), "wb") as f:
        f.write(b"PAR1 this is not a real parquet footer")

    prev = spark.conf.get("spark.sql.files.ignoreCorruptFiles")
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        got = spark.read.parquet(out).count()
        assert got == docs.count()
    finally:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", prev)

    import pytest as _pytest

    with _pytest.raises(Exception):
        spark.read.parquet(out).count()


def test_upsert_and_delete_refuse_null_partitions(spark, sf_dir, tmp_path):
    """NULL partition values cannot be scoped by isin(); both the
    upsert and the takedown must refuse loudly instead of silently
    losing or retaining rows."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from genai_batch_processor_spark.sources.tables import load_table
    from genai_batch_processor_spark.sources.upsert import (
        delete_keys_partitioned,
        upsert_partitioned,
    )

    tbl = str(tmp_path / "tbl_null")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    # poison one row's partition with NULL
    poisoned = docs.withColumn(
        "lang",
        F.when(F.col("doc_id") == 3, F.lit(None)).otherwise(
            F.col("lang")
        ),
    )
    poisoned.write.partitionBy("lang").parquet(tbl)

    null_update = spark.createDataFrame(
        [(7, "x", None)], "doc_id long, text string, lang string"
    )
    with _pytest.raises(ValueError, match="NULL"):
        upsert_partitioned(spark, tbl, null_update, "doc_id", "lang")

    null_key = spark.createDataFrame([(3,)], "doc_id long")
    with _pytest.raises(ValueError, match="NULL"):
        delete_keys_partitioned(spark, tbl, null_key, "doc_id", "lang")


def test_upsert_refuses_high_cardinality_partition_column(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Passing a key-like column as part_col would collect the whole
    keyspace to the driver; the capped collect (limit rides into the
    plan) must refuse with guidance instead."""
    import pytest as _pytest

    from genai_batch_processor_spark.sources import upsert as ups
    from genai_batch_processor_spark.sources.tables import load_table

    monkeypatch.setattr(ups, "MAX_TOUCHED_PARTITIONS", 100)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    tbl = str(tmp_path / "tbl_hc")
    docs.write.partitionBy("lang").parquet(tbl)
    # doc_id has 500 distinct values > the (patched) cap of 100
    with _pytest.raises(ValueError, match="high-cardinality"):
        ups.upsert_partitioned(spark, tbl, docs, "doc_id", "doc_id")
    with _pytest.raises(ValueError, match="high-cardinality"):
        ups.delete_keys_partitioned(
            spark, tbl, docs.select("doc_id"), "doc_id", "doc_id"
        )


def test_query_index_is_current():
    """QUERIES.md must match its generator — a stale index misstates
    coverage."""
    import subprocess
    import sys

    out = subprocess.run(
        [sys.executable, "tools/gen_query_index.py"],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        check=True,
    ).stdout
    with open("/root/repo/QUERIES.md") as f:
        assert f.read() == out


def _dup_docs(spark, sf_dir, n=40, copies=3):
    """Input with exact duplicate texts: n base docs, each text repeated
    ``copies`` times under distinct doc_ids."""
    docs = load_table(spark, sf_dir, "documents").limit(n)
    dup = docs
    for i in range(1, copies):
        dup = dup.unionByName(
            docs.withColumn("doc_id", F.col("doc_id") + F.lit(100_000 * i))
        )
    return ids.assign_ids(dup, "doc_id")


def test_pipeline_dedupe_prompts_submits_distinct_only(
    spark, sf_dir, tmp_path
):
    docs = _dup_docs(spark, sf_dir, n=40, copies=3)
    pipe = OpenAIBatchPipeline(spark, work_dir=str(tmp_path))
    results, errors = pipe.run(
        docs, dedupe_prompts=True, poll_interval_seconds=0.01
    )
    # every original row gets exactly one outcome
    assert results.count() + errors.count() == 120
    # the provider saw one request per DISTINCT body (40, not 120)
    submitted = sum(
        1
        for root, _dirs, files in os.walk(tmp_path / "input")
        for f in files
        if f.startswith("part-")
        for _line in open(os.path.join(root, f))
    )
    assert submitted == 40
    # result custom_ids are re-keyed per original row, not per rep
    cids = [
        r["cid"]
        for r in results.select(
            F.col("resp.custom_id").alias("cid")
        ).collect()
    ]
    assert len(set(cids)) == len(cids)
    # ... and so are error custom_ids: the two relations split the input
    err_cids = [r[0] for r in errors.select("resp.custom_id").collect()]
    assert len(set(err_cids)) == len(err_cids)
    assert not set(cids) & set(err_cids)
    all_cids = {
        r[0] for r in docs.select(ids.custom_id("idx")).collect()
    }
    assert set(cids) | set(err_cids) == all_cids
    # duplicate rows share their representative's answer
    answers = results.select(
        F.col("custom_id"),
        responses.extract_answer(
            responses.extract_content(F.col("resp"))
        ).alias("answer"),
    )
    joined = (
        docs.withColumn("custom_id", ids.custom_id("idx"))
        .join(answers, "custom_id")
        .select("text", "answer")
    )
    per_text = joined.groupBy("text").agg(
        F.count_distinct("answer").alias("n_answers")
    )
    assert per_text.filter(F.col("n_answers") > 1).count() == 0


def test_vertex_pipeline_dedupe_prompts(spark, sf_dir, tmp_path):
    docs = _dup_docs(spark, sf_dir, n=25, copies=2)
    pipe = VertexAIBatchPipeline(spark, work_dir=str(tmp_path))
    results, errors = pipe.run(
        docs, dedupe_prompts=True, poll_interval_seconds=0.01
    )
    assert results.count() + errors.count() == 50
    submitted = sum(
        1
        for root, _dirs, files in os.walk(tmp_path / "input")
        for f in files
        if f.startswith("part-")
        for _line in open(os.path.join(root, f))
    )
    assert submitted == 25
    echoed = F.get_json_object(F.col("resp.request"), "$.custom_id")
    res = results.select(
        "custom_id",
        echoed.alias("echoed"),
        responses.extract_vertex_text(F.col("resp")).alias("answer"),
    ).collect()
    err_cids = [r[0] for r in errors.select(echoed).collect()]
    # each row's echoed request carries its OWN custom_id, in both
    # relations, and the two relations split the input exactly
    assert all(r["echoed"] == r["custom_id"] for r in res)
    res_cids = [r["custom_id"] for r in res]
    assert len(set(res_cids)) == len(res_cids) == len(res)
    assert len(set(err_cids)) == len(err_cids)
    assert not set(res_cids) & set(err_cids)
    text_of = {
        r["cid"]: r["text"]
        for r in docs.select(
            ids.custom_id("idx").alias("cid"), "text"
        ).collect()
    }
    assert set(res_cids) | set(err_cids) == set(text_of)
    # duplicate rows share their representative's answer AND error fate
    outcomes: dict[str, set] = {}
    for r in res:
        outcomes.setdefault(text_of[r["custom_id"]], set()).add(r["answer"])
    for cid in err_cids:
        outcomes.setdefault(text_of[cid], set()).add("<error>")
    assert len(outcomes) == 25
    assert all(len(o) == 1 for o in outcomes.values())


def test_pipeline_run_exposes_submit_metrics(spark, sf_dir, tmp_path):
    """run() telemetry: submit counts observed during the sink job (no
    extra count pass), job metadata from the manifest."""
    docs = _dup_docs(spark, sf_dir, n=30, copies=2)
    pipe = OpenAIBatchPipeline(spark, work_dir=str(tmp_path))
    pipe.run(docs, dedupe_prompts=True, poll_interval_seconds=0.01)
    m = pipe.last_metrics
    assert m["n_submitted"] == 30          # distinct bodies only
    assert m["n_input_rows"] == 60         # fan-out restores all rows
    assert m["submit_bytes"] > 0
    assert m["job_id"].startswith("job-") and m["n_batches"] >= 1

    pipe2 = OpenAIBatchPipeline(spark, work_dir=str(tmp_path / "p2"))
    pipe2.run(docs, poll_interval_seconds=0.01)
    assert pipe2.last_metrics["n_submitted"] == 60
    assert pipe2.last_metrics["n_input_rows"] == 60

    # passthrough of pipe2's shards, and empty input: rows still counted
    pipe3 = OpenAIBatchPipeline(spark, work_dir=str(tmp_path / "p3"))
    pipe3.run(
        docs, input_path=str(tmp_path / "p2" / "input"),
        poll_interval_seconds=0.01,
    )
    assert pipe3.last_metrics["n_input_rows"] == 60
    assert "n_submitted" not in pipe3.last_metrics
    pipe4 = OpenAIBatchPipeline(spark, work_dir=str(tmp_path / "p4"))
    pipe4.run(docs.limit(0), poll_interval_seconds=0.01)
    assert pipe4.last_metrics == {"n_input_rows": 0}


def _plan_nodes(plan) -> list:
    """Nodes of a physical plan, in place of the adaptive and
    query-stage wrappers the nodes they wrap."""
    name = plan.nodeName()
    if name == "AdaptiveSparkPlan":
        return _plan_nodes(plan.executedPlan())
    if name.endswith("QueryStage"):
        return _plan_nodes(plan.plan())
    kids = plan.children()
    return [plan] + [
        n for i in range(kids.size()) for n in _plan_nodes(kids.apply(i))
    ]


def _scans(rel) -> set[tuple[str, str]]:
    """(file format, root path) of every leaf of ``rel``'s physical
    plan; a leaf that is not a file scan fails the test."""
    out = set()
    for node in _plan_nodes(rel._jdf.queryExecution().executedPlan()):
        if node.children().size():
            continue
        assert node.getClass().getSimpleName() == "FileSourceScanExec", (
            node.nodeName()
        )
        fs = node.relation()
        roots = fs.location().rootPaths()
        for i in range(roots.size()):
            path = roots.apply(i).toString().removeprefix("file:")
            out.add((fs.fileFormat().toString(), path))
    return out


def test_dedupe_run_job_budget_and_input_side_runs_once(
    spark, sf_dir, tmp_path
):
    """The input side (the assign_ids window, build_requests, the
    prompt grouping) runs once, in the planned leaf's write: both
    join-backs read only that leaf and the response files, with no
    Window and no cached relation. One Vertex run(dedupe_prompts=True)
    takes 9 Spark jobs (10 with the persisted plan it replaced), and
    with the results write and the error count 14. A lazy plan ran 24
    (10 + 8 + 6). Totals are bounded, not per-action splits: the
    leaf's several files add one AQE job to the global count."""
    docs = _dup_docs(spark, sf_dir, n=25, copies=2)
    sc = spark.sparkContext
    group = "lifecycle-job-budget"
    sc.setJobGroup(group, "dedupe run job budget")
    try:
        pipe = VertexAIBatchPipeline(spark, work_dir=str(tmp_path))
        results, errors = pipe.run(
            docs, dedupe_prompts=True, poll_interval_seconds=0.01
        )
        n_run = len(sc.statusTracker().getJobIdsForGroup(group))
        results.select("idx", "resp").write.parquet(str(tmp_path / "ans"))
        n_errors = errors.count()
        n_all = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert n_errors > 0
    assert n_run <= 9
    assert n_all <= 14
    (leaf,) = os.listdir(tmp_path / "planned")
    want = {
        ("Parquet", str(tmp_path / "planned" / leaf)),
        ("Text", str(tmp_path / "output")),
    }
    for rel in (results, errors):
        names = [
            n.nodeName()
            for n in _plan_nodes(rel._jdf.queryExecution().executedPlan())
        ]
        assert "Window" not in names and "InMemoryTableScan" not in names
        assert _scans(rel) == want
    pipe.cleanup()


def _corrupting(cls):
    """A pipeline of wire ``cls`` that corrupts the first line of the
    provider's first response file before reading the responses."""

    class Corrupting(cls):
        def _read_responses(self, output_path):
            for root, _dirs, files in sorted(os.walk(output_path)):
                for f in sorted(files):
                    if f.startswith((".", "_")):
                        continue
                    path = os.path.join(root, f)
                    with open(path) as fh:
                        lines = fh.readlines()
                    if not lines:
                        continue
                    lines[0] = "{not json\n"
                    with open(path, "w") as fh:
                        fh.writelines(lines)
                    # Hadoop rejects a file that no longer matches its sidecar
                    crc = os.path.join(root, f".{f}.crc")
                    if os.path.exists(crc):
                        os.remove(crc)
                    return super()._read_responses(output_path)
            raise AssertionError("no response file to corrupt")

    return Corrupting


@pytest.mark.parametrize("dedupe", [False, True])
@pytest.mark.parametrize("wire", ["openai", "vertex"])
def test_corrupt_response_line_keeps_every_row(
    spark, sf_dir, tmp_path, wire, dedupe
):
    """A planned row whose response line is corrupt has no parsed
    response to join; it must still come out, once, as an error in the
    wire's shape keyed by its own custom_id: results ∪ errors hold
    every input custom_id exactly once."""
    from genai_batch_processor_spark.plans.pipeline import MISSING_RESPONSE
    from genai_batch_processor_spark.sources import schemas

    docs = _dup_docs(spark, sf_dir, n=15, copies=2)
    if wire == "openai":
        pipe = _corrupting(OpenAIBatchPipeline)(spark, work_dir=str(tmp_path))
        cid = F.col("resp.custom_id")
        msg = F.col("resp.error.message")
    else:
        pipe = _corrupting(VertexAIBatchPipeline)(
            spark, work_dir=str(tmp_path)
        )
        cid = F.from_json(
            F.col("resp.request"), schemas.VERTEX_KEYED_REQUEST_LINE
        )["custom_id"]
        msg = F.col("resp.response.error.message")
    results, errors = pipe.run(
        docs, dedupe_prompts=dedupe, poll_interval_seconds=0.01
    )
    got = [
        r[0]
        for rel in (results, errors)
        for r in rel.select(cid).collect()
    ]
    want = [r[0] for r in docs.select(ids.custom_id("idx")).collect()]
    assert sorted(got) == sorted(want)
    missing = errors.filter(msg == MISSING_RESPONSE).count()
    assert missing == (2 if dedupe else 1)  # the rep's rows, or the one row
    pipe.cleanup()


def test_run_caches_nothing_and_reads_its_own_leaf(spark, sf_dir, tmp_path):
    """run() writes its planned relation to a fresh leaf under its
    work_dir and caches nothing. Two pipelines running the same plan
    each read their own leaf, so their rows never mix, and an earlier
    run's relations keep their rows after a later run in another
    work_dir. The returned
    relations stay row-identical after cleanup() of a caller-owned
    work_dir, which removes nothing."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())

    def rows(df):
        j = F.to_json(F.struct(*df.columns))
        return sorted(r[0] for r in df.select(j).collect())

    def roots(df):
        return {p for _fmt, p in _scans(df)}

    kw = dict(dedupe_prompts=True, poll_interval_seconds=0.01)
    first = VertexAIBatchPipeline(spark, work_dir=str(tmp_path / "a"))
    res_a, err_a = first.run(_dup_docs(spark, sf_dir, n=15, copies=2), **kw)
    rows_a = rows(res_a), rows(err_a)
    assert len(rows_a[0]) + len(rows_a[1]) == 30

    docs = _dup_docs(spark, sf_dir, n=10, copies=2)
    first.work_dir = str(tmp_path / "b")
    res_b, err_b = first.run(docs, **kw)
    other = VertexAIBatchPipeline(spark, work_dir=str(tmp_path / "c"))
    res_c, err_c = other.run(docs, **kw)
    assert set(jsc.getPersistentRDDs().keySet()) == before

    for wd, rels in (("a", (res_a, err_a)), ("b", (res_b, err_b)),
                     ("c", (res_c, err_c))):
        (leaf,) = os.listdir(tmp_path / wd / "planned")
        for rel in rels:
            assert str(tmp_path / wd / "planned" / leaf) in roots(rel)
            assert all(p.startswith(str(tmp_path / wd)) for p in roots(rel))
    assert (rows(res_a), rows(err_a)) == rows_a
    rows_c = rows(res_c), rows(err_c)
    assert len(rows_c[0]) + len(rows_c[1]) == 20
    assert (rows(res_b), rows(err_b)) == rows_c

    assert other.cleanup() == []  # caller-owned work_dir: nothing removed
    assert (rows(res_c), rows(err_c)) == rows_c
    first.cleanup()


def test_unstorable_input_column_fails_before_billing(spark, sf_dir, tmp_path):
    """An input column parquet cannot store (a CalendarIntervalType
    from make_interval) fails run() at the planned write: no request
    file is written and the backend's submit is never called."""
    from pyspark.errors import AnalysisException

    from genai_batch_processor_spark.inference import orchestrator

    class Spy(orchestrator.LocalMockBackend):
        submits = 0

        def submit(self, *args, **kwargs):
            Spy.submits += 1
            return super().submit(*args, **kwargs)

    docs = load_table(spark, sf_dir, "documents").limit(5)
    docs = ids.assign_ids(docs, "doc_id").withColumn(
        "gap", F.expr("make_interval(0, 0, 0, 1)")
    )
    pipe = OpenAIBatchPipeline(
        spark, backend=Spy(spark), work_dir=str(tmp_path)
    )
    with pytest.raises(AnalysisException):
        pipe.run(docs, poll_interval_seconds=0.01)
    assert not os.path.exists(tmp_path / "input")
    assert Spy.submits == 0


def test_takedown_reaches_persisted_dedup_index(spark, sf_dir, tmp_path):
    """Right-to-be-forgotten must reach DERIVED artifacts, not just the
    corpus: erase doc ids from the persisted MinHash band index with
    the same partitioned-delete machinery (band = the partition
    column), then verify a probe for the erased content no longer
    pairs with the removed ids."""
    from pyspark.sql import functions as F

    from genai_batch_processor_spark.operators import dedup
    from genai_batch_processor_spark.sources import index_store
    from genai_batch_processor_spark.sources.tables import load_table
    from genai_batch_processor_spark.sources.upsert import (
        delete_keys_partitioned,
    )

    docs = load_table(spark, sf_dir, "documents").limit(100)
    path = str(tmp_path / "mh_index")
    index_store.save_minhash_index(
        dedup.minhash_index(docs, "doc_id", "text"), path
    )

    victim = docs.orderBy("doc_id").limit(1).collect()[0]
    probe = spark.createDataFrame(
        [(9_000_000, victim.text)], "doc_id long, text string"
    )

    before = dedup.incremental_near_dup_pairs(
        index_store.load_minhash_index(spark, path),
        probe, "doc_id", "text",
    )
    assert before.filter(F.col("id_a") == victim.doc_id).count() > 0

    touched = delete_keys_partitioned(
        spark, path,
        spark.createDataFrame([(victim.doc_id,)], "id long"),
        "id", "band",
    )
    assert touched  # the id lived in every band it was hashed into

    # check_bucket_counts=False: this load is the REPAIR path — the
    # counts are stale by construction until with_bucket_counts runs
    reloaded = index_store.load_minhash_index(
        spark, path, check_bucket_counts=False
    )
    assert reloaded.filter(F.col("id") == victim.doc_id).count() == 0
    after = dedup.incremental_near_dup_pairs(
        reloaded, probe, "doc_id", "text"
    )
    assert after.filter(F.col("id_a") == victim.doc_id).count() == 0

    # the denormalized bucket_n still counts the erased member on
    # surviving rows (over-applies the combined cap at probe time);
    # the refresh + rewrite-to-fresh-dir repairs it
    def _mismatched(idx):
        return (
            idx.groupBy("band", "key", "bucket_n")
            .agg(F.count(F.lit(1)).alias("actual"))
            .filter(F.col("bucket_n") != F.col("actual"))
            .count()
        )

    assert _mismatched(reloaded) > 0  # staleness is real pre-refresh
    repaired_path = str(tmp_path / "mh_index_repaired")
    index_store.save_minhash_index(
        dedup.with_bucket_counts(reloaded), repaired_path
    )
    repaired = index_store.load_minhash_index(spark, repaired_path)
    assert _mismatched(repaired) == 0


def test_stale_bucket_counts_fail_loudly_on_load(spark, tmp_path):
    """The load-time freshness guard (round-4 verdict item 8): erasing
    index rows without the with_bucket_counts repair must make the
    NEXT load raise, instead of relying on operators reading the
    repair doc. Exact duplicates share every bucket in every band, so
    deleting one leaves a stale count in whichever band the guard
    samples."""
    import pytest

    from genai_batch_processor_spark.operators import dedup
    from genai_batch_processor_spark.sources import index_store
    from genai_batch_processor_spark.sources.upsert import (
        delete_keys_partitioned,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),
            (3, "totally different words live in this document here"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "mh_stale")
    index_store.save_minhash_index(
        dedup.minhash_index(docs, "doc_id", "text"), path
    )
    delete_keys_partitioned(
        spark, path,
        spark.createDataFrame([(2,)], "id long"), "id", "band",
    )
    with pytest.raises(ValueError, match="STALE.*with_bucket_counts"):
        index_store.load_minhash_index(spark, path)
    # the documented repair clears the guard
    repaired_path = str(tmp_path / "mh_repaired")
    index_store.save_minhash_index(
        dedup.with_bucket_counts(
            index_store.load_minhash_index(
                spark, path, check_bucket_counts=False
            )
        ),
        repaired_path,
    )
    assert index_store.load_minhash_index(
        spark, repaired_path
    ).count() > 0


def test_minhash_index_mixed_generation_guard(spark, tmp_path):
    """Two concatenated MinHash index GENERATIONS in one (band, key)
    bucket — each row group internally consistent with its own
    bucket_n — must be refused at load, mirroring the embedding
    loader's total-vs-recorded compare: a guard that groups BY
    bucket_n passes this exact corruption because no bucket_n group
    disagrees with its own value."""
    import pytest

    from genai_batch_processor_spark.operators import dedup
    from genai_batch_processor_spark.sources import index_store

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),
            (3, "alpha beta gamma delta epsilon zeta eta thetb"),
            (4, "alpha beta gamma delta epsilon zeta eta thetc"),
            (5, "alpha beta gamma delta epsilon zeta eta thetd"),
        ],
        "doc_id long, text string",
    )
    idx = dedup.minhash_index(docs, "doc_id", "text")
    base = idx.orderBy("band", "key", "id").limit(5).collect()
    band0, key0 = base[0]["band"], base[0]["key"]
    rows = []
    for i, r in enumerate(base):
        d = r.asDict()
        d["band"], d["key"] = band0, key0
        d["bucket_n"] = 2 if i < 2 else 3  # gen A: 2 rows @2, gen B: 3 @3
        rows.append(d)
    mixed = spark.createDataFrame(rows, idx.schema)
    path = str(tmp_path / "mh_mixed")
    index_store.save_minhash_index(mixed, path)
    with pytest.raises(ValueError, match="STALE"):
        index_store.load_minhash_index(spark, path)


def test_minhash_scheme_fingerprint_guard(spark, tmp_path, monkeypatch):
    """An at-rest band index probed under retuned MinHash constants
    would hash the same text to different band keys and silently miss
    every stored near-duplicate — the loader must compare the stamped
    scheme fingerprint and refuse. A pre-guard index (no scheme_fp
    column) is likewise refused: its band keys cannot be verified."""
    import pytest

    from genai_batch_processor_spark.operators import dedup
    from genai_batch_processor_spark.sources import index_store

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "mh_scheme")
    index_store.save_minhash_index(
        dedup.minhash_index(docs, "doc_id", "text"), path
    )
    assert index_store.load_minhash_index(spark, path).count() > 0

    # retuned constants => different fingerprint => loud refusal
    monkeypatch.setattr(
        dedup, "minhash_scheme_fingerprint", lambda: "0" * 64
    )
    with pytest.raises(ValueError, match="MinHash scheme"):
        index_store.load_minhash_index(spark, path)
    monkeypatch.undo()

    # legacy layout without the fingerprint column: unverifiable
    legacy = str(tmp_path / "mh_legacy")
    spark.read.parquet(path).drop("scheme_fp").write.partitionBy(
        "band"
    ).parquet(legacy)
    with pytest.raises(ValueError, match="no scheme_fp"):
        index_store.load_minhash_index(spark, legacy)


def test_scheme_fingerprints_canary_shingling(spark, monkeypatch):
    """r7 advice: the scheme fingerprints must cover the TOKENIZATION
    implementation, not just the constants — a change to word-splitting
    or shingle assembly invalidates every stored band/span hash, and a
    fingerprint blind to it would silently pass the guard it exists to
    provide. Both fingerprints hash a live-canary shingling output, so
    swapping the shingle function must change them (and restoring it
    must restore them — determinism)."""
    from genai_batch_processor_spark.functions import text as tx
    from genai_batch_processor_spark.operators import dedup
    from genai_batch_processor_spark.sources import index_store

    dedup._scheme_fp_cache.clear()
    mh_base = dedup.minhash_scheme_fingerprint()
    span_base = index_store._span_scheme_fingerprint(spark, 8)
    assert mh_base == dedup.minhash_scheme_fingerprint()  # memoized

    orig = tx.shingles
    monkeypatch.setattr(
        tx, "shingles", lambda t, n=3: orig(t, n + 1)
    )  # a retuned shingle assembly, same constants
    dedup._scheme_fp_cache.clear()
    assert dedup.minhash_scheme_fingerprint() != mh_base
    assert index_store._span_scheme_fingerprint(spark, 8) != span_base

    monkeypatch.undo()
    dedup._scheme_fp_cache.clear()
    assert dedup.minhash_scheme_fingerprint() == mh_base
    assert index_store._span_scheme_fingerprint(spark, 8) == span_base


def test_scheme_fingerprint_from_non_driver_thread(spark, monkeypatch):
    """r8 advice: getActiveSession() is THREAD-LOCAL, so the live
    canary used to raise from any non-driver thread (background
    maintenance, streaming listeners) even with a session alive. The
    fingerprint must now fall back to the process-wide default session
    and return the SAME value it computes on the driver thread."""
    import threading

    from pyspark.sql import SparkSession

    from genai_batch_processor_spark.operators import dedup

    dedup._scheme_fp_cache.clear()
    base = dedup.minhash_scheme_fingerprint()

    result: dict[str, object] = {}

    def worker():
        # Whether this thread sees an active session is a py4j
        # connection-pooling detail; record it rather than assert it —
        # the contract under test is "computes and matches" either way.
        result["active"] = SparkSession.getActiveSession() is not None
        dedup._scheme_fp_cache.clear()
        try:
            result["fp"] = dedup.minhash_scheme_fingerprint()
        except Exception as exc:  # pragma: no cover - failure detail
            result["err"] = exc

    t = threading.Thread(target=worker)
    t.start()
    t.join(timeout=120)
    assert not t.is_alive()
    assert "err" not in result, f"raised in thread: {result.get('err')}"
    assert result["fp"] == base

    # Deterministic pin of the fallback itself: force the
    # no-active-session branch on this thread and require the same
    # fingerprint (the process-wide instantiated session serves it).
    monkeypatch.setattr(
        SparkSession, "getActiveSession", classmethod(lambda cls: None)
    )
    dedup._scheme_fp_cache.clear()
    assert dedup.minhash_scheme_fingerprint() == base

    # ...and with NO session anywhere the loud error stays — the
    # fallback must never CONSTRUCT a session as a side effect.
    import pytest

    monkeypatch.setattr(SparkSession, "_instantiatedSession", None)
    dedup._scheme_fp_cache.clear()
    with pytest.raises(RuntimeError, match="live SparkSession"):
        dedup.minhash_scheme_fingerprint()
    monkeypatch.undo()
    dedup._scheme_fp_cache.clear()


def test_minhash_stream_scheme_marker(spark, tmp_path):
    """The sink-probe stream's index root carries a _minhash_fp marker:
    a restart under a different MinHash scheme must fail loudly before
    any epoch runs (sunk band rows from the old scheme would silently
    miss every probe), and a matching restart must keep working."""
    import os

    import pytest

    from genai_batch_processor_spark.operators import dedup
    from genai_batch_processor_spark.sources.tables import load_table
    from genai_batch_processor_spark.streaming import ingest

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").limit(50)
    index = dedup.minhash_index(docs, "doc_id", "text").persist()
    batch = docs.select(
        (F.col("doc_id") + 9_000_000).alias("doc_id"), "text"
    )
    shards = str(tmp_path / "shards")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    batch.coalesce(1).write.mode("append").parquet(shards)

    def drain():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(shards)
        )
        ingest.near_dup_probe_stream_to_parquet(
            stream, index, "doc_id", "text", out, ckpt
        )

    try:
        # a sink started under a DIFFERENT scheme: marker pre-stamped
        marker = os.path.join(out, "index", "_minhash_fp")
        spark.createDataFrame(
            [("f" * 64,)], "value string"
        ).coalesce(1).write.text(marker)
        with pytest.raises(ValueError, match="MinHash scheme"):
            drain()
        # fresh sink under the live scheme: runs, restarts clean
        out2 = str(tmp_path / "out2")
        ckpt2 = str(tmp_path / "ckpt2")

        def drain2():
            stream = (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(shards)
            )
            ingest.near_dup_probe_stream_to_parquet(
                stream, index, "doc_id", "text", out2, ckpt2
            )

        drain2()
        drain2()  # restart: marker matches, no-op
        fp = [
            r[0]
            for r in spark.read.text(
                os.path.join(out2, "index", "_minhash_fp")
            ).collect()
        ]
        assert fp == [dedup.minhash_scheme_fingerprint()]
        assert (
            spark.read.parquet(os.path.join(out2, "pairs")).count() >= 50
        )  # every re-keyed copy pairs its original
    finally:
        index.unpersist()


def test_span_index_store_roundtrip_and_scheme_guard(spark, sf_dir, tmp_path):
    """The span index round-trips through its store and probes
    identically to the in-session relation; loading at a different
    span width must refuse (a width mismatch silently under-reports
    containment — every known span hashes differently and looks
    novel)."""
    import pytest

    from genai_batch_processor_spark.operators import curation
    from genai_batch_processor_spark.sources import index_store
    from genai_batch_processor_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(80)
    idx = curation.span_index(docs)
    path = str(tmp_path / "span_idx")
    index_store.save_span_index(idx, path, curation.SPAN_WORDS_DEFAULT)
    loaded = index_store.load_span_index(
        spark, path, curation.SPAN_WORDS_DEFAULT
    )
    probe = docs.limit(10).select(
        (F.col("doc_id") + 9_000_000).alias("doc_id"), "text"
    )
    want = {
        (r.doc_id, r.n_spans, r.n_known_spans, r.known_ppm)
        for r in curation.probe_span_index(idx, probe).collect()
    }
    got = {
        (r.doc_id, r.n_spans, r.n_known_spans, r.known_ppm)
        for r in curation.probe_span_index(loaded, probe).collect()
    }
    assert got == want and len(want) == 10
    # copied docs are fully contained: the probe must see that
    assert all(ppm == 1_000_000 for _, _, _, ppm in got)

    with pytest.raises(ValueError, match="span scheme"):
        index_store.load_span_index(
            spark, path, curation.SPAN_WORDS_DEFAULT + 1
        )


def test_bench_slow_flag_gate():
    """The per-query 2x bench gate must FIRE on a real regression and
    stay quiet on jitter — pure logic, no Spark (bench.compute_slow_flags):
    2x past a meaningful baseline flags; sub-second jitter under the
    0.3 s floor does not; unknown (new) queries are skipped."""
    import bench

    frozen = {"big": 5.0, "small": 0.1, "edge": 1.0}
    flags = bench.compute_slow_flags(
        {
            "big": 10.5,     # > 2x 5.0 -> flags
            "small": 0.35,   # 3.5x but within +0.3 floor -> quiet
            "edge": 1.9,     # < 2x -> quiet
            "brand_new": 99,  # no baseline -> skipped
        },
        frozen,
    )
    assert set(flags) == {"big"}
    assert flags["big"] == {"baseline": 5.0, "now": 10.5}
    # boundary: exactly 2x is NOT a flag (strict >)
    assert bench.compute_slow_flags({"big": 10.0}, frozen) == {}
    assert bench.compute_slow_flags({}, frozen) == {}


def test_bench_streaming_family_gate_trips_at_1_9x():
    """Round-9 verdict item 3: the streaming family gets its own
    calibration probe AND a tighter flag multiplier — a genuine 1.9x
    streaming slowdown must TRIP the gate (under the generic 2x it read
    as 'under 2x'), while the same 1.9x on a compute-bound query stays
    under its 2x gate, and a streaming query within the tighter bound
    stays quiet."""
    import bench

    frozen = {"events_hourly_stream": 4.0, "pricing_summary": 4.0}
    flags = bench.compute_slow_flags(
        {
            "events_hourly_stream": 7.6,  # 1.9x > 1.75x stream gate
            "pricing_summary": 7.6,       # 1.9x < 2x compute gate
        },
        frozen,
    )
    assert set(flags) == {"events_hourly_stream"}
    assert flags["events_hourly_stream"] == {
        "baseline": 4.0,
        "now": 7.6,
        "mult": bench.STREAM_FLAG_MULT,
    }
    # 1.7x streaming is inside the tighter bound -> quiet
    assert (
        bench.compute_slow_flags({"events_hourly_stream": 6.8}, frozen)
        == {}
    )
    # the 0.3 s jitter floor still applies to tiny streaming baselines
    assert (
        bench.compute_slow_flags(
            {"tiny_stream": 0.35}, {"tiny_stream": 0.1}
        )
        == {}
    )
    # r10 ADVICE: while the frozen baseline predates the streaming
    # calibration probe, *_stream mins are compute-normalized (1.4-1.6x
    # scheduler drift left in) — the tight 1.75x gate must relax to the
    # 2x compute multiplier, and 1.9x stays quiet instead of
    # false-flagging a healthy stream.
    assert (
        bench.compute_slow_flags(
            {"events_hourly_stream": 7.6}, frozen, stream_norm_active=False
        )
        == {}
    )
    # ... but a real >2x streaming regression still flags in fallback,
    # without the stream-gate "mult" stamp (it flagged as compute).
    fb = bench.compute_slow_flags(
        {"events_hourly_stream": 8.5}, frozen, stream_norm_active=False
    )
    assert fb == {"events_hourly_stream": {"baseline": 4.0, "now": 8.5}}


def test_bench_shared_stage_stamp():
    """r8 verdict item 5: plan digests for shared-stage consumers must
    self-describe. A consumer captured COLD (no in-memory scan in the
    plan) is stamped cache_bypassed=true; one captured warm is stamped
    false; non-consumers are untouched."""
    import bench

    plans = {
        "part_match_blocking_recall": {
            "digest": "x", "exchanges": 72, "in_memory_scans": 0,
        },
        "split_leakage": {
            "digest": "y", "exchanges": 3, "in_memory_scans": 2,
        },
        "pricing_summary": {"digest": "z", "exchanges": 1,
                            "in_memory_scans": 0},
    }
    bench.stamp_shared_stage(plans)
    pm = plans["part_match_blocking_recall"]
    assert pm["cache_bypassed"] is True
    assert "_part_pairs_shared" in pm["shared_stages"]
    sl = plans["split_leakage"]
    assert sl["cache_bypassed"] is False
    assert "_near_dup_pairs_shared" in sl["shared_stages"]
    # not a shared-stage consumer: no stamp at all
    assert "cache_bypassed" not in plans["pricing_summary"]
    assert "shared_stages" not in plans["pricing_summary"]


def test_rotation_front_loads_never_gated_queries():
    """r10 verdict item 8: a freshly-registered (never-gated) query must
    land at the FRONT of the next driver window unconditionally, and the
    tool must refuse a registry state that would leave any query outside
    every gate."""
    import importlib

    rotation = importlib.import_module("tools.rotation")

    latest = {"old_a": 7, "old_b": 8, "old_c": 9}
    names = ["old_b", "brand_new", "old_a", "old_c"]
    front = rotation.compute_front(names, latest, window=3)
    # never-gated first, then oldest-gated-first; window truncates tail
    assert front == ["brand_new", "old_a", "old_b"]

    # never-gated overflow of the window is a hard failure, not a trim
    import pytest as _pytest

    many_new = [f"new_{i}" for i in range(4)]
    with _pytest.raises(SystemExit):
        rotation.compute_front(many_new, {}, window=3)


def test_registry_has_no_query_outside_every_gate():
    """Structural guard behind the rotation discipline: every registered
    query must have a green driver CORRECTNESS row in some round OR sit
    in the upcoming 50-entry driver window (the first 50 QUERIES
    entries). The r10 near-miss — 2 queries silently outside every
    window — can't recur without failing this test."""
    import importlib

    rotation = importlib.import_module("tools.rotation")

    latest = rotation.latest_green_rounds()
    names = list(entrymod.queries())
    window = names[:50]
    uncovered = [n for n in names if n not in latest and n not in window]
    assert uncovered == [], (
        f"queries with no driver row and outside the upcoming window: "
        f"{uncovered} — run tools/rotation.py and repaste the front"
    )


def test_tools_reject_option_like_positional_args():
    """r10 verdict item 5: `python tools/check_parity.py --help` must be
    a usage error, not an sf_dir named '--help' written into the repo."""
    import pytest as _pytest

    from tools._args import positional

    assert positional(["prog"]) == []
    assert positional(["prog", "/tmp/x", "q1"]) == ["/tmp/x", "q1"]
    with _pytest.raises(SystemExit):
        positional(["prog", "--help"])
    with _pytest.raises(SystemExit):
        positional(["prog", "/tmp/x", "-v"])
