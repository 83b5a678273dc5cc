"""Pipeline facades — the engine's public API, mirroring the reference's
two-method contract ``run()`` + ``validate_request()``
(``src/genai_batch_processor/base.py:4-15``) re-expressed as composed
DataFrame stages.

Lifecycle (reference entry point 1, SURVEY.md §3): build requests and
prompt groups into ONE planned relation, written once as a parquet leaf
→ validate (limit(1) probe of the leaf's input columns) → sharded JSONL
sink of the representatives → submit/poll via the orchestrator boundary
→ result scan → join-back on the representative ordinal → error split.
Every stage except submit/poll is a distributed DataFrame job; nothing
round-trips through driver memory (the reference materializes the whole
input at ``oai:277`` and the whole output at ``oai:229``).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from genai_batch_processor_spark.functions import ids
from genai_batch_processor_spark.inference import orchestrator
from genai_batch_processor_spark.operators import batching, joinback, requests
from genai_batch_processor_spark.sources import bigquery, jsonl, schemas, tables

# Error message of a planned row no parsed response line answers.
MISSING_RESPONSE = "no parsable response line for this request"


class BatchPipeline:
    """Base facade (reference base.py:4-15 contract).

    Subclasses bind a request builder; the backend (provider boundary) is
    injected, defaulting to the hermetic LocalMockBackend.
    """

    def __init__(
        self,
        spark: SparkSession,
        backend: orchestrator.BatchBackend | None = None,
        work_dir: str | None = None,
    ):
        self.spark = spark
        self.backend = backend or orchestrator.LocalMockBackend(spark)
        # Resource ledger (#30, vtx:34-52/:327-354): every temp path this
        # pipeline mints is recorded so cleanup() can remove it. A caller-
        # provided work_dir is the CALLER's resource and is never deleted.
        self._owned_paths: list[str] = []
        if work_dir is None:
            work_dir = tempfile.mkdtemp(prefix="genai_spark_")
            self._owned_paths.append(work_dir)
        self.work_dir = work_dir
        # Run telemetry (filled by run()): submit-side counts come from
        # Spark Observations riding the sink job — measured during the
        # write action, no extra count() job; job metadata comes from
        # the orchestrator manifest.
        self.last_metrics: dict = {}

    def cleanup(self) -> list[str]:
        """Remove every temp path this pipeline created (vtx:327-354
        semantics, as an explicit ledger instead of attribute scraping).
        Nothing is cached to release: run()'s relations read files under
        ``work_dir``, so after cleanup() they stay valid only when
        ``work_dir`` is the caller's. Returns the
        removed paths; idempotent."""
        removed = []
        for p in self._owned_paths:
            if os.path.exists(p):
                shutil.rmtree(p, ignore_errors=True)
            removed.append(p)
        self._owned_paths.clear()
        return removed

    # -- reference contract ---------------------------------------------------

    def validate_request(self, df: DataFrame, **kwargs) -> bool:
        """Fail-fast pre-flight (#7/#20, oai:92-125 / vtx:70-107): run the
        builder on limit(1) and type-check against the request schema.
        The one genuine optimization in the reference — kept."""
        sample = self.build_requests(df.limit(1), **kwargs)
        row = sample.select("request").head()
        return row is not None and row["request"]["custom_id"] is not None

    def build_requests(self, df: DataFrame, **kwargs) -> DataFrame:
        raise NotImplementedError

    # -- provider wire hooks (override per wire format) -----------------------

    def _response_schema(self):
        return schemas.OPENAI_RESPONSE

    def _read_responses(self, output_path: str) -> DataFrame:
        rows, _corrupt = jsonl.read_jsonl(
            self.spark, output_path, self._response_schema()
        )
        return rows.select(F.struct(*rows.columns).alias("resp"))

    def _empty_responses(self) -> DataFrame:
        cols = self.spark.createDataFrame([], self._response_schema())
        return cols.select(F.struct(*cols.columns).alias("resp"))

    def _resp_error(self) -> Column:
        """True for rows that belong in the error relation (#13/#38)."""
        return F.col("resp")["error"].isNotNull()

    def _resp_struct(self, **fields: Column) -> Column:
        """A response struct of the wire's schema: the given fields,
        null elsewhere."""
        return F.struct(
            *[
                fields.get(f.name, F.lit(None)).cast(f.dataType).alias(f.name)
                for f in self._response_schema().fields
            ]
        )

    def _missing_response(self) -> Column:
        """The error a planned row gets when no parsed response line
        answers it (corrupt, missing, or dropped by the provider)."""
        return self._resp_struct(
            custom_id=F.col("custom_id"),
            error=F.struct(F.lit(MISSING_RESPONSE).alias("message")),
        )

    def _resp_custom_id(self) -> Column:
        return F.col("resp.custom_id")

    def _dedup_key(self) -> Column:
        """Prompt-identity key for submit-side dedup: the request BODY
        (everything the provider prices), excluding the per-row
        custom_id."""
        return F.to_json(F.col("request.body"))

    def _rewrite_resp_custom_id(self, resp: Column, new_cid: Column) -> Column:
        """Re-key a representative's response struct to an original
        row's custom_id during fan-out."""
        return resp.withField("custom_id", new_cid)

    # -------------------------------------------------------------------------

    def _assemble(
        self, planned: DataFrame, resp: DataFrame, rekey: bool
    ) -> tuple[DataFrame, DataFrame]:
        """Shared lifecycle tail: join-back → error split. One code path
        for empty and non-empty runs, so their schemas cannot diverge.
        The planned relation LEFT-joins the response side (one row per
        parsed response line; only there is its custom_id parsed) on
        the representative ordinal, so every planned row comes out
        exactly once: a row whose response line is corrupt or missing
        gets :meth:`_missing_response` and lands in the errors. Each
        row's response is re-keyed to the row's own custom_id when
        ``rekey``."""
        planned = planned.withColumn("custom_id", F.col("request.custom_id"))
        own = [c for c in planned.columns if c != "rep_idx"]
        row_resp = F.coalesce(F.col("resp"), self._missing_response())
        if rekey:
            row_resp = self._rewrite_resp_custom_id(row_resp, F.col("custom_id"))
        rows = joinback.attach_results(
            planned, resp, id_col="rep_idx",
            custom_id_col=self._resp_custom_id(), how="left",
        ).select(*own, row_resp.alias("resp"))
        err = self._resp_error()
        return rows.filter(~err), rows.filter(err).select("resp")

    def run(
        self,
        df: DataFrame,
        *,
        validate: bool = True,
        input_path: str | None = None,
        dedupe_prompts: bool = False,
        poll_interval_seconds: float = 1.0,
        timeout_seconds: float = 7200.0,
        **build_kwargs,
    ) -> tuple[DataFrame, DataFrame]:
        """Full lifecycle → (results, errors) DataFrames (oai:262-303).

        The input side (``df``'s plan, ``build_requests``, the prompt
        grouping) runs ONCE per call, as one planned relation — input
        columns, ``request``, ``rep_idx`` (the ordinal whose request is
        submitted for the row) — written as parquet to a fresh leaf
        ``work_dir/planned/<uuid>``. The row count observed on that
        write is the emptiness check and ``last_metrics["n_input_rows"]``;
        validation, the sink and both join-backs read the leaf. Nothing
        is cached: the returned relations read the leaf and
        ``work_dir/output``, so they stay valid until that directory is
        removed or a later run() in the same ``work_dir`` rewrites it.
        Every input column must be one parquet can store: a
        ``CalendarIntervalType`` column (``make_interval``) raises
        ``AnalysisException`` at the planned write, before any request
        is written or submitted.

        Empty-input short-circuit (#15, oai:277-280) returns EMPTY
        relations with the same schemas as a non-empty run — downstream
        unions must not break only on the empty path. NO catch-all
        exception swallowing (deliberate departure from oai:298-302).

        ``input_path`` (#31, vtx:405-407): a pre-existing request-JSONL
        path skips the build+write stage entirely; the requests on disk
        are joined back to ``df`` by their custom_id ordinal, so results
        are identical to a built run over the same input.

        ``dedupe_prompts`` (operators/batching.py): only one
        representative per distinct request BODY crosses the provider
        boundary; responses fan back to every original row re-keyed to
        its own custom_id. Duplicate rows inherit their
        representative's answer AND error fate — the cost of paying for
        the prompt once.
        """
        self.last_metrics = {}
        if dedupe_prompts and input_path is not None:
            raise ValueError(
                "dedupe_prompts needs the build stage; it cannot apply "
                "to a pre-built input_path (the shards on disk already "
                "fixed the submit set)"
            )
        if input_path is None:
            planned = self.build_requests(df, **build_kwargs)
            if dedupe_prompts:
                keyed = planned.withColumn("__pkey", self._dedup_key())
                groups = batching.prompt_groups(keyed, "__pkey", "idx")
                planned = keyed.join(
                    groups.select("__pkey", "rep_idx"), "__pkey"
                ).drop("__pkey")
            else:
                planned = planned.withColumn("rep_idx", F.col("idx"))
        else:
            # Passthrough: reconstruct the (input row, request) relation
            # from the shards on disk. Join on the custom_id ordinal —
            # the same key the response join-back uses.
            rows, _bad = jsonl.read_request_jsonl(self.spark, input_path)
            req = rows.select(
                F.struct(*rows.columns).alias("request"),
                ids.extract_index(F.col("custom_id")).alias("rep_idx"),
            )
            planned = df.join(req, df["idx"] == req["rep_idx"], "inner")
        planned, n_input = tables.write_leaf(
            planned, os.path.join(self.work_dir, "planned", uuid.uuid4().hex)
        )
        self.last_metrics["n_input_rows"] = n_input
        if not n_input:
            empty = self._empty_responses()
            return self._assemble(planned, empty, dedupe_prompts)

        if input_path is None:
            inputs = planned.select(*df.columns)
            if validate and not self.validate_request(inputs, **build_kwargs):
                raise ValueError("validate_request failed on sample item")
            obs = Observation(f"submit-{uuid.uuid4().hex[:6]}")
            to_write = planned.filter(
                F.col("idx") == F.col("rep_idx")
            ).select("request.*").observe(
                obs,
                F.count(F.lit(1)).alias("n_submitted"),
                F.sum(F.octet_length(F.to_json(F.struct("*"))))
                .cast("long")
                .alias("submit_bytes"),
            )
            input_path = os.path.join(self.work_dir, "input")
            jsonl.write_jsonl(to_write, input_path)
            self.last_metrics.update(obs.get)

        output_path = os.path.join(self.work_dir, "output")
        job = orchestrator.run_job(
            self.backend,
            input_path=input_path,
            output_path=output_path,
            manifest_dir=os.path.join(self.work_dir, "manifests"),
            poll_interval_seconds=poll_interval_seconds,
            timeout_seconds=timeout_seconds,
            # Distributed data plane: upload (submit_spark) and result
            # fetch run on executors for backends that support them;
            # the local mocks expose neither and are unaffected.
            spark=self.spark,
        )
        self.last_metrics["job_id"] = job.job_id
        self.last_metrics["n_batches"] = len(job.batch_ids)
        resp = self._read_responses(output_path)
        return self._assemble(planned, resp, dedupe_prompts)


class OpenAIBatchPipeline(BatchPipeline):
    """OpenAI-shaped requests (oai:79-90 builder surface)."""

    def __init__(self, *args, model: str = requests.DEFAULT_MODEL, **kwargs):
        super().__init__(*args, **kwargs)
        self.model = model
        self.azure_deployment: str | None = None

    def build_requests(
        self,
        df: DataFrame,
        *,
        user_content: Column | None = None,
        text_col: str = "text",
        id_col: str = "idx",
        labels: tuple[str, ...] = ("positive", "negative", "neutral"),
        **kwargs,
    ) -> DataFrame:
        content = user_content
        if content is None:
            prompt = requests.classification_prompt(text_col, labels)
            content = F.array(requests.text_part(prompt))
        return requests.build_openai_requests(
            df,
            id_col=id_col,
            user_content=content,
            model=self.model,
            azure_deployment=self.azure_deployment,
            **kwargs,
        )


class AzureOpenAIBatchPipeline(OpenAIBatchPipeline):
    """Azure preset (oai:306-328): body.model ← deployment name."""

    def __init__(self, *args, azure_deployment: str = "my-deployment", **kwargs):
        super().__init__(*args, **kwargs)
        self.azure_deployment = azure_deployment


class VertexAIBatchPipeline(BatchPipeline):
    """Vertex-shaped requests (vtx:54-68 builder surface), end to end:
    keyed envelope lines out, VERTEX_RESPONSE prediction rows back in
    (the reference's positional zip join is replaced by the passthrough
    custom_id — SURVEY §7). ``table_store`` binds the BigQuery boundary
    (vtx:138-176 input table, :282-296 result scan) — production injects
    :class:`~..sources.bigquery.BigQueryTableStore`, tests the local
    parquet double."""

    def __init__(
        self,
        spark: SparkSession,
        backend: orchestrator.BatchBackend | None = None,
        work_dir: str | None = None,
        table_store: bigquery.TableStore | None = None,
    ):
        super().__init__(
            spark,
            backend or orchestrator.VertexLocalMockBackend(spark),
            work_dir,
        )
        self.table_store = table_store

    def build_requests(
        self,
        df: DataFrame,
        *,
        text_col: str = "text",
        id_col: str = "idx",
        **kwargs,
    ) -> DataFrame:
        inner = requests.build_vertex_requests(
            df, user_text=F.col(text_col), **kwargs
        )
        # keyed envelope: {"custom_id": ..., "request": {...}} — Vertex
        # passes unknown input keys through to the output row
        return inner.withColumn(
            "request",
            F.struct(
                ids.custom_id(id_col).alias("custom_id"),
                F.col("request").alias("request"),
            ),
        )

    def validate_request(self, df: DataFrame, **kwargs) -> bool:
        """Structure-only check (vtx:70-107) — no provider call; the
        output-token clamp (vtx:93-97) caps the PROBE build at 128 even
        when the run requests more (a caller-passed value used to
        collide with the clamp keyword here)."""
        probe_kwargs = dict(kwargs)
        probe_kwargs["max_output_tokens"] = min(
            int(probe_kwargs.get("max_output_tokens", 128)), 128
        )
        sample = self.build_requests(df.limit(1), **probe_kwargs)
        return sample.select("request").head() is not None

    # -- vertex wire hooks ----------------------------------------------------

    def _response_schema(self):
        return schemas.VERTEX_RESPONSE

    def _resp_error(self) -> Column:
        return F.col("resp")["response"]["error"].isNotNull()

    def _missing_response(self) -> Column:
        # the echoed keyed request carries the row's custom_id
        return self._resp_struct(
            request=F.to_json("request"),
            response=F.struct(
                F.lit(None).alias("candidates"),
                F.struct(F.lit(MISSING_RESPONSE).alias("message")).alias("error"),
            ),
        )

    def _resp_custom_id(self) -> Column:
        # the echoed request string carries the passthrough key
        return F.from_json(
            F.col("resp.request"), schemas.VERTEX_KEYED_REQUEST_LINE
        )["custom_id"]

    def _dedup_key(self) -> Column:
        # the priced payload is the inner GenerateContentRequest
        return F.to_json(F.col("request.request"))

    def _rewrite_resp_custom_id(self, resp: Column, new_cid: Column) -> Column:
        keyed = F.from_json(
            resp["request"], schemas.VERTEX_KEYED_REQUEST_LINE
        )
        return resp.withField(
            "request", F.to_json(keyed.withField("custom_id", new_cid))
        )

    # -- BigQuery/GCS boundary (vtx:138-176, 282-296, 298-325) ----------------

    def run_table_to_table(
        self,
        input_uri: str,
        output_uri: str,
        *,
        text_col: str = "text",
        order_col: str | None = None,
        id_col: str = "idx",
        **run_kwargs,
    ) -> tuple[DataFrame, DataFrame]:
        """Table-in → table-out lifecycle: read the input relation via
        URI-scheme dispatch (bq:// hits the TableStore), run the batch
        lifecycle, write results back out the same way. Returns the
        (results, errors) relations for further composition."""
        df = bigquery.read_input(self.spark, input_uri, self.table_store)
        if id_col not in df.columns:
            df = ids.assign_ids(df, order_col or text_col, id_col=id_col)
        results, errors = self.run(
            df, text_col=text_col, id_col=id_col, **run_kwargs
        )
        bigquery.write_output(results, output_uri, self.table_store)
        return results, errors
