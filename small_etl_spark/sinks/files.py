"""File sinks (SURVEY §2.2).

Reference parity, Spark-first:

- K1 CSV — ``df.write.csv`` with header; RFC quoting is built in
  (contextual_pipeline.rs:1017-1041 hand-rolls it).
- K2 TSV — tab separator; embedded tabs/newlines replaced by spaces
  *in the data* to match the reference's sanitize-not-quote rule
  (contextual_pipeline.rs:1043-1061).
- K3 JSON — JSONL via ``df.write.json`` (the scale form); the
  reference's pretty-array form is a driver-side option for small
  outputs (simple_pipeline.rs:153-158).
- K4 ZIP — driver-side post-pass over the written directory
  (SURVEY §7.3: Spark writes part-file directories; at 100 TB "zip"
  becomes directory + manifest, so zipping stays optional).
- K5 filename templating ``{pipeline_name}``/``{execution_id}``/
  ``{timestamp:...}`` (contextual_pipeline.rs:1143-1154).
- K6 storage backends — any Hadoop-FS URI (file://, s3a://) works via
  ``df.write``; the ZIP post-pass is local-FS only.
- K7 metrics JSON (sequence_etl.rs:336-400).
- K8 format allow-list enforced at spec validation.

Dynamic-header rule (§1.3): the reference emits columns as the *first
record's keys sorted alphabetically*; ``sorted_header=True`` projects
``sorted(df.columns)`` before writing. Null renders as empty string —
same as the reference's missing-key fill.
"""

from __future__ import annotations

import datetime as _dt
import glob
import json
import os
import re
import zipfile
from concurrent.futures import ThreadPoolExecutor
from typing import Any

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StringType
from pyspark.util import inheritable_thread_target

_TS_PATTERN = re.compile(r"\{timestamp:([^}]+)\}")


def _local_path(path: str) -> str:
    """``file://`` URIs → plain local paths for the driver-side
    glob/zip/open helpers (K6: Spark's writers take any Hadoop-FS URI,
    but the ZIP/metrics post-passes are explicitly local-FS)."""
    if path.startswith("file://"):
        import urllib.parse

        return urllib.parse.urlparse(path).path or "/"
    return path


def render_filename(
    pattern: str,
    pipeline_name: str,
    execution_id: str,
    now: _dt.datetime | None = None,
) -> str:
    """K5: substitute {pipeline_name}, {execution_id}, {timestamp:FMT}."""
    now = now or _dt.datetime.now(_dt.timezone.utc)
    out = pattern.replace("{pipeline_name}", pipeline_name).replace(
        "{execution_id}", execution_id
    )
    return _TS_PATTERN.sub(lambda m: now.strftime(m.group(1)), out)


def _sorted_projection(df: DataFrame, sorted_header: bool) -> DataFrame:
    return df.select(*sorted(df.columns)) if sorted_header else df


def _sanitize_tsv(df: DataFrame) -> DataFrame:
    """K2 semantics: tabs/newlines inside values become spaces."""
    string_cols = [f.name for f in df.schema.fields if isinstance(f.dataType, StringType)]
    if not string_cols:
        return df
    return df.withColumns(
        {c: F.regexp_replace(F.col(c), "[\t\n\r]", " ") for c in string_cols}
    )


def _stringify_complex(df: DataFrame) -> DataFrame:
    """X9 for flat sinks: array/struct/map columns render as their
    JSON text in csv/tsv (the reference stringifies non-scalar values
    into the cell; Spark's csv writer refuses complex types)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    complex_cols = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    if not complex_cols:
        return df
    return df.withColumns({c: F.to_json(F.col(c)) for c in complex_cols})


def _wap_append(
    df: DataFrame,
    table: str,
    branch_prefix: str,
    partition_by: list[str] | None = None,
    max_retries: int = 3,
) -> int:
    """Write-audit-publish append for the versioned pipeline sink: the
    stage output lands on an ephemeral staging branch
    (``<branch_prefix>-<uuid>``), then main is atomically
    fast-forwarded. A lost publish race (another writer advanced main
    mid-stage) abandons the stale branch and re-stages against the new
    head — main only ever advances by whole, published stage outputs.
    The first commit to a fresh table bootstraps main directly (there
    is nothing to protect yet)."""
    import uuid as _uuid

    from small_etl_spark.sinks import versioned as V

    if V.latest_version(table) is None:
        return V.commit_snapshot(
            df, table, mode="overwrite", partition_by=partition_by
        )
    last: Exception | None = None
    for _ in range(max_retries):
        name = f"{branch_prefix}-{_uuid.uuid4().hex[:8]}"
        root = V.branch_create(table, name)
        try:
            V.commit_snapshot(
                df, root, mode="append", partition_by=partition_by
            )
            return V.branch_publish(table, name)
        except V.CommitConflict as exc:
            last = exc  # main moved: re-stage from the new head
        finally:
            V.branch_abandon(table, name)
    raise V.CommitConflict(
        f"write_outputs: lost {max_retries} publish races on {table!r}"
    ) from last


_FILE_FORMATS = ("csv", "tsv", "json", "parquet", "orc")


def _write_file_format(
    target: DataFrame, path: str, fmt: str, partition_by: list[str] | None
) -> None:
    """Write one plain file format of a stage output."""
    if fmt in ("csv", "tsv"):
        target = _stringify_complex(target)
    if fmt == "tsv":
        target = _sanitize_tsv(target)
    writer = target.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if fmt == "csv":
        writer.option("header", True).csv(path)
    elif fmt == "tsv":
        writer.option("header", True).option("sep", "\t").csv(path)
    else:
        # json / parquet / orc (zlib default codec) — the columnar
        # formats get the same binary-member handling in the ZIP pass
        getattr(writer, fmt)(path)


def _write_versioned(
    target: DataFrame,
    path: str,
    partition_by: list[str] | None,
    branch: str | None,
    constraints: dict[str, str] | None,
    txn,
    txn_name: str,
) -> None:
    """The ``versioned`` sink: a snapshot table (sinks/versioned.py).

    Each pipeline run APPENDS an atomically-committed, time-travelable
    snapshot instead of overwriting files in place — the 100 TB-safe
    form of a recurring stage output. Re-runs accumulate history; read
    via versioned.read_snapshot. With ``branch`` set, the append goes
    WRITE-AUDIT-PUBLISH: staged on an ephemeral branch off the named
    one, then atomically fast-forwarded, so main never shows a torn
    stage output and a concurrent writer costs one re-stage.
    """
    from small_etl_spark.sinks.versioned import (
        _enforce_constraints,
        add_constraint,
        commit_snapshot,
        list_constraints,
    )

    missing_cons = {
        cname: cexpr
        for cname, cexpr in (constraints or {}).items()
        if cname not in list_constraints(_local_path(path))
    }
    if missing_cons:
        # declared constraints the table does not carry yet
        # gate THIS batch too (one agg pass, same as every
        # later commit_snapshot) — without this the first
        # run's own batch bypassed the CHECK: a violating
        # batch landed durably and the add_constraint below
        # then failed every subsequent run (ADVICE r9)
        _enforce_constraints(
            target, {"constraints": missing_cons},
            "load.constraints(declared)",
        )
    if txn is not None and branch:
        raise ValueError(
            "load.branch and [sequence] atomic are mutually "
            "exclusive — the transaction already WAP-stages"
        )
    # the root every post-commit action (constraints) targets:
    # under a transaction that is the txn's staged branch, so
    # publish adopts the properties atomically with the data
    croot = _local_path(path)
    if txn is not None:
        from small_etl_spark.sinks.versioned import (
            latest_version,
        )

        if latest_version(croot) is None:
            # first run: bootstrap an (empty, schema-carrying)
            # v0 so the table can stage — the only state a
            # reader can observe before the catalog swap; the
            # txn tracks it and drops it again on abort, so an
            # aborted atomic sequence leaves no new-table
            # residue (ADVICE r10)
            commit_snapshot(
                target.limit(0), croot, mode="overwrite",
                partition_by=partition_by or None,
            )
            txn.register_bootstrap(croot)
        croot = txn.stage_lazy(txn_name, croot)
        commit_snapshot(
            target, croot, mode="append",
            partition_by=partition_by or None,
        )
    elif branch:
        _wap_append(
            target, _local_path(path), branch,
            partition_by=partition_by or None,
        )
    else:
        commit_snapshot(
            target,
            _local_path(path),
            mode="append",
            partition_by=partition_by or None,
        )
    if constraints:
        # declared once, enforced forever: add any configured
        # CHECK constraint the table does not carry yet (the
        # add validates all existing data first); subsequent
        # runs' batches are then gated inside commit_snapshot
        have = list_constraints(croot)
        for cname, cexpr in constraints.items():
            if cname not in have:
                add_constraint(
                    target.sparkSession, croot, cname, cexpr,
                )


def write_outputs(
    df: DataFrame,
    out_dir: str,
    formats: list[str],
    sorted_header: bool = True,
    single_file: bool = True,
    partition_by: list[str] | None = None,
    branch: str | None = None,
    constraints: dict[str, str] | None = None,
    txn=None,
    txn_name: str | None = None,
) -> dict[str, str]:
    """Write ``df`` in each format under ``out_dir/<fmt>/``.

    ``single_file=True`` coalesces to one part file (reference writes
    one file per format; right for stage outputs that feed a ZIP). At
    scale pass ``False`` and set ``partition_by``: hive-style
    ``col=value`` directories let downstream readers partition-prune —
    a filter on a partition column skips whole directories instead of
    scanning 100 TB (verify via ``PartitionFilters`` in the scan node).

    The plain file formats are written concurrently, one thread (and
    Spark job) per format, inheriting the caller's job group and
    description; a failed format re-raises its own error once all have
    finished. ``versioned`` commits afterwards on the calling thread.
    Returns {format: path} of the written directories, in ``formats``
    order.
    """
    for fmt in formats:
        if fmt not in _FILE_FORMATS and fmt != "versioned":
            raise ValueError(f"invalid output format {fmt!r}")
    out = _sorted_projection(df, sorted_header)
    target = out.coalesce(1) if single_file and not partition_by else out
    written = {fmt: os.path.join(out_dir, fmt) for fmt in formats}
    file_formats = [fmt for fmt in written if fmt != "versioned"]
    if file_formats:
        write = inheritable_thread_target(df.sparkSession)(_write_file_format)
        with ThreadPoolExecutor(len(file_formats)) as pool:
            futures = [
                pool.submit(write, target, written[fmt], fmt, partition_by)
                for fmt in file_formats
            ]
        for fut in futures:
            fut.result()
    if "versioned" in written:
        _write_versioned(
            target, written["versioned"], partition_by, branch,
            constraints, txn, txn_name or out_dir,
        )
    return written


def zip_output_dir(
    out_dir: str,
    written: dict[str, str],
    zip_name: str,
    metadata: dict[str, Any] | None = None,
    intermediate_df: DataFrame | None = None,
    member_names: dict[str, str] | None = None,
) -> str:
    """K4: pack the part files of each written format into one ZIP.

    Members are named ``output.<fmt>`` (+ ``intermediate.json``,
    ``metadata.json``) — or the explicit per-format name from
    ``member_names`` (the reference's [load.filenames] table) —
    like the reference ZIP
    (simple_pipeline.rs:129-171). Text formats (csv/tsv/json) are
    concatenated into one member with a single header; binary formats
    (parquet) can't be concatenated, so each part file is stored as
    raw bytes under ``output.<fmt>/``. Driver-side, local-FS only — at
    100 TB skip zipping and ship the directory + manifest instead.
    """
    zip_path = os.path.join(_local_path(out_dir), zip_name)
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for fmt, uri in written.items():
            path = _local_path(uri)
            member = (member_names or {}).get(fmt, f"output.{fmt}")
            if fmt not in ("csv", "tsv", "json"):
                # binary format: one raw-bytes member per part file
                for p in sorted(glob.glob(os.path.join(path, "part-*"))):
                    zf.write(p, f"{member}/{os.path.basename(p)}")
                continue
            # set-union: a part file like part-00000-*.csv matches both
            # patterns — duplicating it would duplicate every data row
            parts = sorted(
                set(glob.glob(os.path.join(path, "part-*")))
                | set(glob.glob(os.path.join(path, "*.csv")))
                | set(glob.glob(os.path.join(path, "*.json")))
            )
            chunks: list[str] = []
            header_written = False
            for p in parts:
                with open(p, encoding="utf-8") as fh:
                    text = fh.read()
                if fmt in ("csv", "tsv") and header_written:
                    text = text.split("\n", 1)[1] if "\n" in text else ""
                if text:
                    chunks.append(text)
                    header_written = True
            zf.writestr(member, "".join(chunks))
        if intermediate_df is not None:
            # Stream the intermediate rows into the ZIP member via
            # toLocalIterator() — one partition resident on the driver
            # at a time — instead of a full collect + one giant
            # json.dumps string. A wide intermediate would otherwise
            # hold rows AND their rendered text in driver memory at
            # once; the incremental render below is byte-identical to
            # json.dumps(rows, indent=2, default=str) (golden-ZIP
            # tests pin that).
            import io

            with zf.open("intermediate.json", "w") as raw, io.TextIOWrapper(
                raw, encoding="utf-8", newline=""
            ) as w:
                first = True
                for r in intermediate_df.toLocalIterator():
                    rendered = json.dumps(
                        r.asDict(recursive=True), indent=2, default=str
                    )
                    body = "\n".join(
                        "  " + line for line in rendered.splitlines()
                    )
                    w.write(("[\n" if first else ",\n") + body)
                    first = False
                w.write("[]" if first else "\n]")
        if metadata is not None:
            zf.writestr("metadata.json", json.dumps(metadata, indent=2, default=str))
    return zip_path


def write_metrics(path: str, metrics: dict[str, Any]) -> None:
    """K7: execution-metrics JSON (sequence_etl.rs:336-400)."""
    path = _local_path(path)
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        json.dump(metrics, f, indent=2, default=str)


def compact_dir(
    spark: "SparkSession",  # noqa: F821 - forward ref, imported lazily by callers
    path: str,
    target_rows_per_file: int,
    fmt: str = "parquet",
) -> str:
    """Small-file compaction: rewrite a directory of part files so
    each holds ~``target_rows_per_file`` rows. The table-maintenance
    op every streaming/incremental sink eventually needs — thousands
    of per-micro-batch or per-delta files turn scan planning and
    NameNode/listing into the bottleneck long before data volume
    does.

    Rewrites into ``<path>__compacted`` then swaps directories (the
    parquet/orc readers take the swap atomically from the next query;
    in a real lakehouse the swap is the table format's commit). Row
    count is preserved exactly; file count becomes
    ⌈rows / target⌉.
    """
    import math
    import shutil as _shutil

    reader = getattr(spark.read, fmt)
    df = reader(path)
    n = df.count()
    files = max(1, math.ceil(n / target_rows_per_file))
    tmp = path.rstrip("/") + "__compacted"
    getattr(df.repartition(files).write.mode("overwrite"), fmt)(tmp)
    local = _local_path(path)
    _shutil.rmtree(local)
    _shutil.move(_local_path(tmp), local)
    return path


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    token_col: str,
    id_col: str = "doc_id",
) -> dict:
    """Write a corpus as ``n_shards`` equal-token parquet shards plus a
    ``manifest.json`` — the WRITE-side twin of the ``shard_plan``
    catalog query, and the shape a tokenizer/training job consumes.

    Assignment is contiguous-in-id equal-token packing: a
    partition-parallel prefix sum over the (id, tokens) PROJECTION
    (operators.sort.global_cumsum — range exchange + broadcast
    offsets, no unpartitioned window), then
    ``shard = start_offset DIV ceil(total/n)``. Contiguity is the
    point at scale: each shard covers an id RANGE, so the manifest's
    (id_min, id_max) doubles as a pruning index, and the write is one
    range-shuffle of the full rows. Rows are sorted by id within each
    shard directory (``partitionBy`` + ``sortWithinPartitions``).

    Returns the manifest dict: per-shard docs/tokens/id-range, written
    to ``<path>/_manifest.json`` (underscore prefix = invisible to
    parquet scans, the ``_SUCCESS`` convention). The manifest
    aggregation runs on the n_shards-row group-by — bounded driver
    collect.
    """
    import json as _json
    import math
    import os as _os

    from pyspark.sql import functions as F

    from small_etl_spark.operators.sort import global_cumsum

    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    tok = df.select(F.col(id_col).alias("__id__"),
                    F.col(token_col).cast("bigint").alias("__t__"))
    # shard divisor in pure bigint arithmetic: ceil(tot/n) as
    # (tot+n-1) DIV n. Double division here breaks in two ways the
    # at-scale claim can't afford: ceil(tot/n)=0 on an all-zero-token
    # corpus makes the divide NULL (and F.least silently skips NULLs,
    # dumping every row into the last shard), and doubles lose integer
    # precision past 2^53 total tokens. greatest(1, ...) keeps the
    # degenerate zero-token corpus well-defined: everything in shard 0.
    total_row = tok.agg(
        F.greatest(
            F.lit(1).cast("bigint"),
            F.expr(f"(sum(__t__) + {n_shards - 1}) DIV {n_shards}"),
        ).alias("__per__")
    )
    assign = (
        global_cumsum(tok, ["__id__"], "__t__", cumsum_col="__cum__")
        .crossJoin(F.broadcast(total_row))
        .select(
            "__id__",
            F.least(
                F.lit(n_shards - 1),
                F.expr("(__cum__ - __t__) DIV __per__").cast("int"),
            ).alias("shard"),
        )
    )
    sharded = df.join(assign, df[id_col] == assign["__id__"]).drop("__id__")
    (
        sharded.repartition(n_shards, "shard")
        .sortWithinPartitions(id_col)
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    manifest_rows = (
        sharded.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(F.col(token_col).cast("bigint")).alias("tokens"),
            F.min(id_col).alias("id_min"),
            F.max(id_col).alias("id_max"),
        )
        .orderBy("shard")
        .collect()
    )
    manifest = {
        "n_shards": n_shards,
        "shards": [
            {"shard": r["shard"], "docs": r["docs"], "tokens": r["tokens"],
             "id_min": r["id_min"], "id_max": r["id_max"]}
            for r in manifest_rows
        ],
    }
    with open(_os.path.join(_local_path(path), "_manifest.json"), "w") as fh:
        _json.dump(manifest, fh, indent=1)
    return manifest
