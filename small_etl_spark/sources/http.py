"""HTTP sources (SURVEY §2.1 S1–S4, S7) — the one operator family with
no Spark built-in.

Two physical shapes (SURVEY §4):

- **Whole-endpoint scan** (S1–S3): one driver-side request →
  ``spark.createDataFrame``. The payload is one API response — small by
  construction — so driver-side fetch is the right plan even at 100 TB
  (the *output* joins into distributed frames; the fetch itself is not
  data-parallel work).
- **Parameterized per-record fan-out** (S4 — contextual_pipeline.rs:
  95-153): one call per upstream row. Implemented as ``mapInPandas``
  over the upstream frame — executor-side clients, per-partition rate
  limiting, Arrow-batched results — so the fan-out scales with
  partitions instead of the reference's sequential 100 ms-sleep loop.
  Each partition keeps ``FANOUT_DEPTH`` (2) requests in flight, so the
  server is never idle while the client handles a response; output
  order is still the input order.

Rate limit contract: ``rate_limit_ms`` spaces request *starts* (every
attempt, retries included) at least that far apart within a
partition, i.e. at most ``1000/rate_limit_ms`` requests per second per
partition whatever the in-flight depth.

Every request opens a fresh connection: keep-alive reuse against a
server that sends headers and body in separate writes stalls each
response on Nagle's algorithm meeting the client's delayed ACK, which
costs far more than a fresh local connect.

Retry with delay implements what the reference only declares
(``retry_attempts``/``retry_delay_seconds``,
sequence_config.rs:44-45): HTTP errors, timeouts and connections
dropped without a response are retried, then raise
:class:`HttpFetchError`. ``on_api_failure = "use_sample_data"`` ports
the S7 fallback policy (toml_config.rs:106-110).
"""

from __future__ import annotations

import http.client
import json
import threading
import time
import urllib.error
import urllib.parse
import urllib.request
from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor
from typing import Any, TypeVar

from pyspark.sql import DataFrame, SparkSession

from small_etl_spark.functions.templating import (
    substitute_endpoint_params,
    substitute_template,
)


class HttpFetchError(RuntimeError):
    pass


# requests each fan-out partition keeps in flight
FANOUT_DEPTH = 2

# ``urlopen`` wraps connect errors in URLError but lets errors raised
# while reading the response (e.g. RemoteDisconnected: the server
# closed the connection without answering) escape unwrapped.
_RETRYABLE = (
    urllib.error.URLError,
    http.client.HTTPException,
    ConnectionError,
    TimeoutError,
    json.JSONDecodeError,
)

_T = TypeVar("_T")


def _with_retries(
    call: Callable[[], _T],
    retry_attempts: int,
    retry_delay_seconds: float,
    what: str,
) -> _T:
    """Run ``call`` up to ``retry_attempts + 1`` times, sleeping
    ``retry_delay_seconds`` between attempts; raise
    :class:`HttpFetchError` once every attempt has failed."""
    last: Exception | None = None
    for attempt in range(retry_attempts + 1):
        try:
            return call()
        except _RETRYABLE as e:
            last = e
            if attempt < retry_attempts and retry_delay_seconds > 0:
                time.sleep(retry_delay_seconds)
    raise HttpFetchError(
        f"{what} failed after {retry_attempts + 1} attempts: {last!r}"
    )


class _StartPacer:
    """Spaces the starts of calls from any number of threads at least
    ``interval_s`` apart. The lock is held while sleeping, and the next
    start is measured from when the sleeper actually woke, so a late
    wake-up never shortens the following gap."""

    def __init__(self, interval_s: float):
        self.interval_s = interval_s
        self._lock = threading.Lock()
        self._next = 0.0

    def wait(self) -> None:
        if self.interval_s <= 0:
            return
        with self._lock:
            delay = self._next - time.monotonic()
            if delay > 0:
                time.sleep(delay)
            self._next = time.monotonic() + self.interval_s


def _request(
    url: str,
    method: str = "GET",
    headers: dict[str, str] | None = None,
    query_params: dict[str, str] | None = None,
    payload: str | None = None,
    timeout_seconds: float = 30.0,
) -> str:
    if query_params:
        sep = "&" if urllib.parse.urlparse(url).query else "?"
        url = url + sep + urllib.parse.urlencode(query_params)
    method = method.upper()
    if method not in ("GET", "POST", "PUT", "DELETE", "PATCH", "HEAD"):
        method = "GET"  # unknown → GET fallback (contextual_pipeline.rs:512-520)
    data = payload.encode() if payload is not None and method != "GET" else None
    req = urllib.request.Request(url, data=data, method=method)
    for k, v in (headers or {}).items():
        req.add_header(k, v)
    if data is not None and not any(k.lower() == "content-type" for k in (headers or {})):
        req.add_header("Content-Type", "application/json")
    with urllib.request.urlopen(req, timeout=timeout_seconds) as resp:
        return resp.read().decode("utf-8", errors="replace")


def fetch_records(
    url: str,
    method: str = "GET",
    headers: dict[str, str] | None = None,
    query_params: dict[str, str] | None = None,
    payload: str | None = None,
    timeout_seconds: float = 30.0,
    retry_attempts: int = 0,
    retry_delay_seconds: float = 0.0,
) -> list[dict[str, Any]]:
    """Fetch + parse one endpoint: JSON array → records; single object
    wrapped as ``{"response": obj}`` unless it is already flat
    (simple_pipeline.rs:40-55). Retries for real."""
    return _with_retries(
        lambda: parse_json_records(
            _request(url, method, headers, query_params, payload, timeout_seconds)
        ),
        retry_attempts,
        retry_delay_seconds,
        f"fetch of {url}",
    )


def parse_json_records(text: str) -> list[dict[str, Any]]:
    parsed = json.loads(text)
    if isinstance(parsed, list):
        return [r if isinstance(r, dict) else {"value": r} for r in parsed]
    if isinstance(parsed, dict):
        # flat object → one record; nested → wrap (simple_pipeline.rs:49-55)
        if all(not isinstance(v, (dict, list)) for v in parsed.values()):
            return [parsed]
        return [{"response": json.dumps(parsed, separators=(",", ":"))}]
    return [{"value": parsed}]


def records_to_df(spark: SparkSession, records: list[dict[str, Any]]) -> DataFrame:
    """Records → DataFrame via Spark's JSON schema inference (handles
    heterogeneous keys / nested objects like the reference's schemaless
    rows)."""
    if not records:
        return spark.createDataFrame([], "dummy string").limit(0).drop("dummy")
    jsonl = [json.dumps(r) for r in records]
    return spark.read.json(spark.sparkContext.parallelize(jsonl, 1))


def http_scan(
    spark: SparkSession,
    endpoint: str,
    method: str = "GET",
    headers: dict[str, str] | None = None,
    query_params: dict[str, str] | None = None,
    payload_template: str | None = None,
    shared_data: dict[str, Any] | None = None,
    timeout_seconds: float = 30.0,
    retry_attempts: int = 0,
    retry_delay_seconds: float = 0.0,
    on_failure: str = "error",
    sample_data: list[dict[str, Any]] | None = None,
) -> DataFrame:
    """S1–S3 whole-endpoint scan with X4 ``{{key}}`` templating on
    headers/payload and the S7 sample-data fallback policy."""
    shared = shared_data or {}
    hdrs = {k: substitute_template(v, shared) for k, v in (headers or {}).items()}
    payload = (
        substitute_template(payload_template, shared) if payload_template else None
    )
    try:
        records = fetch_records(
            endpoint, method, hdrs, query_params, payload,
            timeout_seconds, retry_attempts, retry_delay_seconds,
        )
        if not records and on_failure == "use_sample_data":
            records = sample_data or []
    except HttpFetchError:
        if on_failure != "use_sample_data":
            raise
        records = sample_data or []
    return records_to_df(spark, records)


def parse_fanout_responses(
    df: DataFrame,
    response_schema: str | None = None,
    spark: SparkSession | None = None,
    response_col: str = "response",
    keep_source: bool = False,
    n_samples: int = 16,
    strict: bool = False,
) -> DataFrame:
    """S4 response handling: raw fan-out rows → record columns.

    Mirrors the reference's per-call parsing
    (contextual_pipeline.rs:530-585): an object response becomes one
    record, an array response one record per object element. Two
    execution paths:

    - ``response_schema`` (DDL, e.g. ``"id bigint, name string"``):
      pure JVM-side ``from_json`` with an ``array<struct<...>>``
      wrapper — Spark parses a lone object as a one-element array, so
      one expression covers both shapes — then ``explode``. No Python,
      no extra pass; this is the 100 TB path (the schema of an API you
      fan out against is known).
    - no schema: sample-then-``from_json`` inference — up to 16
      responses are pulled to the driver (bounded: fan-out result sets
      are driver-parameterized and small by construction), their
      schemas derived JVM-side via ``schema_of_json`` and merged
      (field union, conflicting primitives widen to string), then the
      SAME JVM ``from_json`` + ``explode`` path runs with the merged
      element schema. No RDD lineage, no per-row Python — the plan
      stays whole-stage-codegen'd either way; the only non-JVM work is
      the 16-row sample.

    ``keep_source`` keeps the ``source_row`` JSON string column for
    callers that need to re-join upstream context (the reference drops
    it; its output records carry response fields only).

    ``n_samples`` bounds the driver-side inference sample (default 16;
    raise it for heterogeneous APIs whose rarer fields first appear
    late). ``from_json`` silently drops keys absent from the inferred
    schema, so for no-schema parses ``strict=True`` adds a distributed
    top-level-key audit over the WHOLE response column and raises,
    naming the missed keys, if any response carries a key the sample
    never saw — one extra codegen'd pass, no silent data loss.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType

    if response_schema is None:
        if keep_source:
            raise ValueError("keep_source requires response_schema")
        sess = spark or df.sparkSession
        element = _infer_response_element_schema(
            sess, df, response_col, n_samples=n_samples
        )
        if strict:
            known = F.array(*[F.lit(f.name) for f in element.fields])
            # array responses: per-element map keys (variant values so
            # nested objects/arrays parse); object responses: the
            # lone-object→array wrap only applies to struct elements,
            # so top-level keys come from json_object_keys instead.
            arr_keys = F.flatten(
                F.transform(
                    F.from_json(
                        F.col(response_col), "array<map<string,variant>>"
                    ),
                    F.map_keys,
                )
            )
            seen = F.array_distinct(
                F.coalesce(
                    arr_keys,
                    F.json_object_keys(F.col(response_col)),
                    F.array().cast("array<string>"),
                )
            )
            missed = (
                df.select(
                    F.explode(F.array_except(seen, known)).alias("k")
                )
                .distinct()
                .limit(50)
                .collect()
            )
            if missed:
                raise ValueError(
                    "response keys absent from the inferred schema "
                    f"(raise n_samples or pass response_schema): "
                    f"{sorted(r['k'] for r in missed)}"
                )
        arr = F.from_json(F.col(response_col), ArrayType(element))
    else:
        arr = F.from_json(F.col(response_col), f"array<struct<{response_schema}>>")
    exploded = df.withColumn("_rec", F.explode(arr))
    rec_cols = [F.col("_rec." + f) for f in exploded.select("_rec.*").columns]
    extra = [F.col("source_row")] if keep_source else []
    return exploded.select(*rec_cols, *extra)


def _merge_json_types(a, b):
    """Widening merge of two inferred JSON DataTypes: struct fields
    union (first-seen order), arrays merge element-wise, null yields
    to anything, and conflicting primitives widen to string — the same
    lattice spark.read.json's inference walks, reimplemented over
    ``schema_of_json`` outputs so inference needs no RDD input."""
    from pyspark.sql.types import ArrayType, NullType, StringType, StructField, StructType

    if isinstance(a, StructType) and isinstance(b, StructType):
        merged: dict[str, object] = {}
        order: list[str] = []
        for f in list(a.fields) + list(b.fields):
            if f.name not in merged:
                merged[f.name] = f.dataType
                order.append(f.name)
            else:
                merged[f.name] = _merge_json_types(merged[f.name], f.dataType)
        return StructType([StructField(n, merged[n], True) for n in order])
    if isinstance(a, ArrayType) and isinstance(b, ArrayType):
        return ArrayType(_merge_json_types(a.elementType, b.elementType), True)
    if a == b:
        return a
    if isinstance(a, NullType):
        return b
    if isinstance(b, NullType):
        return a
    return StringType()


def _infer_response_element_schema(sess, df, response_col, n_samples: int = 16):
    """Infer the per-record struct schema of a JSON response column
    from a bounded driver-side sample. Object responses contribute
    their own struct; array responses contribute their element struct;
    mixed shapes merge."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, StructType
    from pyspark.sql.types import _parse_datatype_string

    samples = [
        r[0]
        for r in df.select(F.col(response_col).cast("string").alias("r"))
        .filter(F.col("r").isNotNull())
        .limit(n_samples)
        .collect()
    ]
    if not samples:
        raise ValueError(
            "cannot infer a response schema from an empty fan-out; "
            "pass response_schema explicitly"
        )
    ddls = sess.range(1).select(
        *[F.schema_of_json(F.lit(s)).alias(f"s{i}") for i, s in enumerate(samples)]
    ).head()
    element = None
    for ddl in ddls:
        dt = _parse_datatype_string(ddl)
        if isinstance(dt, ArrayType):
            dt = dt.elementType
        if not isinstance(dt, StructType):
            raise ValueError(
                f"response is not a JSON object or array of objects: {ddl}"
            )
        element = dt if element is None else _merge_json_types(element, dt)
    return element


def parameterized_http_fanout(
    upstream: DataFrame,
    endpoint_template: str,
    method: str = "GET",
    headers: dict[str, str] | None = None,
    shared_data: dict[str, Any] | None = None,
    timeout_seconds: float = 30.0,
    retry_attempts: int = 0,
    retry_delay_seconds: float = 0.0,
    rate_limit_ms: int = 100,
    result_schema: str = "response string, source_row string",
    response_schema: str | None = None,
    payload_template: str | None = None,
) -> DataFrame:
    """S4: one HTTP call per upstream row, executor-side.

    ``payload_template`` renders a per-record request body: ``{{key}}``
    placeholders resolve from shared_data overlaid with the record's
    own fields (X4 priority — the reference's
    use_previous_data_as_params body templating,
    contextual_pipeline.rs:270-327).

    ``mapInPandas`` keeps the fan-out partition-parallel (the reference
    loops sequentially with a 100 ms sleep — contextual_pipeline.rs:
    126-145), and each partition keeps ``FANOUT_DEPTH`` (2) requests in
    flight on a small thread pool; rows come out in input order, each
    ``response`` paired with its own ``source_row``. ``rate_limit_ms``
    spaces request starts (retries included) within a partition, so a
    partition sends at most ``1000/rate_limit_ms`` requests per second
    and total QPS is at most partitions × 1000/rate_limit_ms —
    repartition the upstream to tune. Connections are not reused:
    keep-alive against servers that send headers and body separately
    stalls every response on Nagle + delayed ACK. A key whose
    ``retry_attempts + 1`` attempts all fail raises
    :class:`HttpFetchError`. Endpoint templating errors (X5 unresolved
    ``{param}``) fail the task like the reference fails the pipeline.

    With ``response_schema`` set, the raw ``(response, source_row)``
    rows are parsed into real record columns via
    :func:`parse_fanout_responses` (object → one record, array → one
    record per element), so downstream stages consume the fan-out like
    any other source (contextual_pipeline.rs:530-585). Without it the
    raw rows are returned for the caller to parse.
    """
    import pandas as pd

    shared = dict(shared_data or {})
    hdrs = {k: substitute_template(v, shared) for k, v in (headers or {}).items()}

    def fetch_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pacer = _StartPacer(rate_limit_ms / 1000.0)

        def fetch_one(rec: dict[str, Any]) -> str:
            url = substitute_endpoint_params(endpoint_template, {**shared, **rec})
            body = (
                substitute_template(payload_template, {**shared, **rec})
                if payload_template
                else None
            )

            def attempt() -> str:
                pacer.wait()
                return _request(url, method, hdrs, None, body, timeout_seconds)

            return _with_retries(
                attempt, retry_attempts, retry_delay_seconds, f"fan-out fetch of {url}"
            )

        with ThreadPoolExecutor(FANOUT_DEPTH) as pool:
            for pdf in batches:
                recs = pdf.to_dict("records")
                # map yields in submission order and cancels the
                # not-yet-started calls when one raises
                out_resp = list(pool.map(fetch_one, recs))
                out_src = [json.dumps(rec, default=str) for rec in recs]
                yield pd.DataFrame({"response": out_resp, "source_row": out_src})

    raw = upstream.mapInPandas(fetch_partition, schema=result_schema)
    if response_schema is not None:
        return parse_fanout_responses(raw, response_schema)
    return raw
