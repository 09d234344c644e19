"""`.col` as a first-class Spark data source: ``spark.read.format("col")``.

Built on Spark 4's Python DataSource API (SPARK-44076). Where
``colfile.read_col`` decodes the whole file on the driver (fine for the
single-node interchange contract it documents), this source hands Spark
ONE InputPartition PER ROW GROUP: each executor seeks straight to its row
group's column chunks and decodes only those — the reference's row-group
parallelism (cae/src/execution.cpp scan loop), but scheduled by Spark, so
a 10k-row-group file fans out across the cluster. Requirements:

- the path must be visible to executors (local FS here, shared storage on
  a real cluster — same contract as every file source),
- optional ``columns`` option ("a,b,c") prunes column chunks at decode
  time (Catalyst still prunes its own projection above),
- optional ``predicate`` option ("col op int", op ∈ eq/ne/lt/le/gt/ge)
  applies the reference's zone-map skipping per row group BEFORE any
  decode, and the exact residual filter is applied to surviving rows.

The source is complete across all four surfaces:

- batch read of a single ``.col`` file OR a directory of them
  (file × row-group input partitions),
- streaming read of a growing directory (``ColStreamReader``),
- streaming write (``ColStreamWriter``: executor-parallel task files,
  driver rename-as-commit),
- plus the driver-side batch writer in ``colfile.write_col``.

Register once per session::

    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.col_datasource import (
        register_col_datasource,
    )
    register_col_datasource(spark)
    df = spark.read.format("col").load("/path/data.col")
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)


def _parse_predicate(spec: str | None):
    if not spec:
        return None
    col, op, lit = spec.split()
    return (col, op, int(lit))


class _RowGroupPartition(InputPartition):
    def __init__(self, index: int, file: str | None = None):
        self.index = index
        self.file = file


class ColDataSourceReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("format('col') needs .load(<path>)")
        cols = options.get("columns")
        self.columns = [c.strip() for c in cols.split(",")] if cols else None
        self.predicate = _parse_predicate(options.get("predicate"))

    def partitions(self):
        import os

        from .colfile import _skippable_row_groups, col_files, read_col_metadata

        paths = col_files(self.path) if os.path.isdir(self.path) else [self.path]
        parts = []
        for fpath in paths:
            schema, row_groups, _ = read_col_metadata(fpath)
            skips = _skippable_row_groups(row_groups, schema, self.predicate)
            parts += [
                _RowGroupPartition(i, fpath)
                for i, skip in enumerate(skips)
                if not skip
            ]
        return parts

    def read(self, partition: _RowGroupPartition):
        # Runs on the executor: open the file, seek to THIS row group's
        # chunks, decode only the projected columns.
        from .colfile import read_row_groups

        schema, proj, groups = read_row_groups(
            partition.file or self.path,
            self.columns,
            self.predicate,
            index=partition.index,
        )
        rows = (row for cols in groups for row in zip(*cols))
        if self.predicate is not None:
            col, op, value = self.predicate
            pi = proj.index(col)
            import operator as _op

            cmp = {
                "eq": _op.eq,
                "ne": _op.ne,
                "lt": _op.lt,
                "le": _op.le,
                "gt": _op.gt,
                "ge": _op.ge,
            }[op]
            keep_pred = len(self.columns or schema.names)
            rows = (
                r[:keep_pred] if pi >= keep_pred else r
                for r in rows
                if cmp(r[pi], value)
            )
        yield from rows


class ColDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "col"

    def schema(self):
        from pyspark.sql import types as T

        from .colfile import col_files, read_col_metadata

        import os

        cols = self.options.get("columns")
        proj = [c.strip() for c in cols.split(",")] if cols else None
        path = self.options["path"]
        if os.path.isdir(path):  # streaming: schema from the first file
            listing = col_files(path)
            if not listing:
                raise FileNotFoundError(
                    f"no .col files yet in {path}; schema cannot be inferred "
                    "— write one file first or pass an explicit schema"
                )
            path = listing[0]
        schema, _, _ = read_col_metadata(path)
        names = proj or schema.names
        return T.StructType(
            [
                schema.columns[schema.index_of(c)].to_spark_field(nullable=False)
                for c in names
            ]
        )

    def reader(self, schema) -> ColDataSourceReader:
        return ColDataSourceReader(dict(self.options))

    def simpleStreamReader(self, schema) -> "ColStreamReader":
        return ColStreamReader(dict(self.options))

    def streamWriter(self, schema, overwrite: bool) -> "ColStreamWriter":
        return ColStreamWriter(dict(self.options), schema)


class ColStreamReader(SimpleDataSourceStreamReader):
    """Streaming half of the source: a DIRECTORY of ``.col`` files is the
    stream; the offset is the count of files consumed in lexicographic
    order (files must be appended with monotonically sorting names —
    the same contract as Spark's own file stream source). Each
    micro-batch reads every newly arrived file; ``readBetweenOffsets``
    replays any committed range deterministically from the same sorted
    listing, which is what makes recovery exactly-once."""

    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("stream format('col') needs .load(<dir>)")

    def _files(self) -> list[str]:
        from .colfile import col_files

        return col_files(self.path)

    def initialOffset(self) -> dict:
        return {"files_consumed": 0}

    def _read_files(self, paths):
        from .colfile import read_row_groups

        for fpath in paths:
            for cols in read_row_groups(fpath)[2]:
                yield from zip(*cols)

    def read(self, start: dict):
        # the simple stream API prefetches on the driver and requires a
        # COPYABLE iterator (a generator cannot be pickled into the
        # prefetch cache) — materialize the batch
        files = self._files()
        done = start["files_consumed"]
        new = files[done:]
        return list(self._read_files(new)), {"files_consumed": len(files)}

    def readBetweenOffsets(self, start: dict, end: dict):
        files = self._files()
        return list(
            self._read_files(
                files[start["files_consumed"] : end["files_consumed"]]
            )
        )

    def commit(self, end: dict) -> None:
        pass


def register_col_datasource(spark) -> None:
    """Idempotent per-session registration of the ``col`` format."""
    spark.dataSource.register(ColDataSource)


class _ColCommitMessage(WriterCommitMessage):
    def __init__(self, tmp_name: str | None):
        self.tmp_name = tmp_name


class ColStreamWriter(DataSourceStreamWriter):
    """Streaming SINK half: each task writes its partition of the
    micro-batch as its own ``.col`` file under a dotted temp name
    (invisible to the stream reader's ``*.col`` listing), and the
    driver-side ``commit`` renames the batch's temp files into final
    ``b<batch>_<i>.col`` names — rename-as-commit, so readers observe a
    batch atomically (all files or none) and a failed batch leaves only
    temp files for ``abort`` to sweep. Executor-parallel writes, unlike
    the driver-side interchange writer."""

    def __init__(self, options: dict, schema):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("stream write format('col') needs .start(<dir>)")
        self.spark_schema = schema

    def write(self, iterator) -> _ColCommitMessage:
        import os
        import uuid

        from .colfile import schema_from_spark, write_col_rows

        rows = [tuple(r) for r in iterator]
        if not rows:
            return _ColCommitMessage(None)
        os.makedirs(self.path, exist_ok=True)
        tmp = f".tmp-{uuid.uuid4().hex}"
        write_col_rows(
            rows, schema_from_spark(self.spark_schema), os.path.join(self.path, tmp)
        )
        return _ColCommitMessage(tmp)

    def commit(self, messages, batchId: int) -> None:
        import os

        i = 0
        for m in messages:
            if m is None or m.tmp_name is None:
                continue
            os.replace(
                os.path.join(self.path, m.tmp_name),
                os.path.join(self.path, f"b{batchId:06d}_{i:03d}.col"),
            )
            i += 1

    def abort(self, messages, batchId: int) -> None:
        import os

        for m in messages:
            if m is not None and m.tmp_name is not None:
                tmp = os.path.join(self.path, m.tmp_name)
                if os.path.exists(tmp):
                    os.remove(tmp)
