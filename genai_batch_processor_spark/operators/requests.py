"""Per-row request projection — the reference's core UDF surface, as columns.

Reference: ``_create_request(item, index, **kwargs)``
(``openai_batch_processor.py:79-90``; example impls
``run_text_classifier.py:38-62``, ``run_multichoice_exam.py:39-61``,
``run_visual_exam.py:76-128``) and ``_create_request_data(item)``
(``vertex_ai_batch_processor.py:54-68``).

Here request construction is a pure column expression building a typed
struct (schemas.OPENAI_REQUEST / VERTEX_REQUEST) — JVM-side, codegen'd,
zero Python in the hot path. Arbitrary user builders that genuinely need
Python go through ``mapInPandas`` (see inference.runner), but none of the
reference's own examples do.

Covered operators (SURVEY.md §2 numbering): #3/#19 request projection,
#5 key synthesis, #6 Azure model rewrite, #21 vertex envelope,
#33 prompt templating, #34 chat-message construction, #43 multimodal
content assembly, #44 model-conditional shaping (o-series).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from genai_batch_processor_spark.functions import ids

DEFAULT_MODEL = "gpt-4o-mini"
CHAT_COMPLETIONS_URL = "/v1/chat/completions"

# Prompt template semantics of run_text_classifier.py:56-57 (instruction +
# interpolated row text, single-label answer forced as JSON).
CLASSIFY_TEMPLATE = (
    "Classify the following text into exactly one label from [%s]. "
    'Reply as JSON {"answer": "<label>"}. Text: %s'
)


def text_part(text: Column) -> Column:
    """Normalized content part: plain string → [{type:'text',…}] element."""
    return F.struct(
        F.lit("text").alias("type"),
        text.alias("text"),
        F.lit(None).cast("struct<url:string>").alias("image_url"),
    )


def image_part(data_uri: Column) -> Column:
    """Image content part holding a base64 data-URI
    (run_visual_exam.py:98-104)."""
    return F.struct(
        F.lit("image_url").alias("type"),
        F.lit(None).cast("string").alias("text"),
        F.struct(data_uri.alias("url")).alias("image_url"),
    )


def message(role: str, *parts: Column) -> Column:
    """Chat message with parts-array content (#34, run_text_classifier.py:55-58)."""
    return F.struct(F.lit(role).alias("role"), F.array(*parts).alias("content"))


def classification_prompt(text: Column | str, labels: tuple[str, ...]) -> Column:
    """Prompt templating (#33): f-string semantics via format_string."""
    c = F.col(text) if isinstance(text, str) else text
    return F.format_string(CLASSIFY_TEMPLATE, F.lit(", ".join(labels)), c)


def openai_body(
    user_content: Column,
    system_prompt: str | None = None,
    model: str = DEFAULT_MODEL,
    max_tokens: int = 10,
    temperature: float = 0.0,
    json_response: bool = True,
) -> Column:
    """Request body struct; o-series models get model-conditional shaping
    (#44, run_visual_exam.py:113-121): ``max_completion_tokens`` instead of
    ``max_tokens``, and no ``temperature``."""
    msgs = []
    if system_prompt is not None:
        msgs.append(message("system", text_part(F.lit(system_prompt))))
    msgs.append(F.struct(F.lit("user").alias("role"), user_content.alias("content")))
    is_o_series = F.lit(model.lower().startswith("o"))
    return F.struct(
        F.lit(model).alias("model"),
        F.array(*msgs).alias("messages"),
        F.when(~is_o_series, F.lit(max_tokens)).alias("max_tokens"),
        F.when(is_o_series, F.lit(max_tokens)).alias("max_completion_tokens"),
        F.when(~is_o_series, F.lit(temperature)).alias("temperature"),
        (
            F.struct(F.lit("json_object").alias("type"))
            if json_response
            else F.lit(None).cast("struct<type:string>")
        ).alias("response_format"),
    )


def build_openai_requests(
    df: DataFrame,
    *,
    id_col: str,
    user_content: Column,
    system_prompt: str | None = None,
    model: str = DEFAULT_MODEL,
    max_tokens: int = 10,
    temperature: float = 0.0,
    json_response: bool = True,
    azure_deployment: str | None = None,
    request_col: str = "request",
) -> DataFrame:
    """Attach a typed OPENAI_REQUEST struct column (#3 + #5 + #6).

    ``azure_deployment`` reproduces the Azure model rewrite
    (openai_batch_processor.py:106-108,141-143): body.model is overwritten
    with the deployment name.
    """
    eff_model = azure_deployment if azure_deployment is not None else model
    body = openai_body(
        user_content,
        system_prompt=system_prompt,
        model=eff_model,
        max_tokens=max_tokens,
        temperature=temperature,
        json_response=json_response,
    )
    request = F.struct(
        ids.custom_id(id_col).alias("custom_id"),
        F.lit("POST").alias("method"),
        F.lit(CHAT_COMPLETIONS_URL).alias("url"),
        body.alias("body"),
    )
    return df.withColumn(request_col, request)


def build_vertex_requests(
    df: DataFrame,
    *,
    user_text: Column,
    temperature: float = 0.0,
    max_output_tokens: int = 50,
    top_p: float = 1.0,
    request_col: str = "request",
) -> DataFrame:
    """Vertex GenerateContentRequest struct (#19, vtx:54-68 /
    ex-vcls:52-75), wrapped later by :func:`vertex_envelope` (#21)."""
    contents = F.array(
        F.struct(
            F.lit("user").alias("role"),
            F.array(F.struct(user_text.alias("text"))).alias("parts"),
        )
    )
    gen_cfg = F.struct(
        F.lit(temperature).alias("temperature"),
        F.lit(max_output_tokens).alias("max_output_tokens"),
        F.lit(top_p).alias("top_p"),
    )
    return df.withColumn(
        request_col,
        F.struct(contents.alias("contents"), gen_cfg.alias("generationConfig")),
    )


def vertex_envelope(request: Column, as_json_string: bool = False) -> Column:
    """GCS line envelope {"request": …} (vtx:131) or the BigQuery
    single-STRING-column form (vtx:159,167-170)."""
    wrapped = F.struct(request.alias("request"))
    return F.to_json(wrapped) if as_json_string else wrapped
