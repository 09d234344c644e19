"""The workloads: what one op does, its inputs, and its DuckDB check.

Every workload is a closed loop with one client thread. ``prepare`` makes
one op's inputs (untimed), ``op`` is the timed call into the package, and
``check`` compares the op's output with DuckDB (untimed) and returns the
mismatches, so an op that answers wrongly counts as a failed op.
"""

from __future__ import annotations

import glob
import math
import os
import shutil
import sys
import time

import pyarrow as pa

import gen
from tracing import NullTracer

OLAP_GATES = ("tpch_q1", "join_multiway", "window_topk_per_group", "sort_top_k")
SCAN_COLS = ["l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"]
UPSERT_BUCKETS = 8
BATCHES_PER_CYCLE = 3
WARMUP_OPS = 1
CKPT_GLOB = "/tmp/ckpt_upsert_*"


class Collected:
    """An already-collected result in the shape ``check_oracle.compare``
    takes (it only calls ``toPandas()``), so the check compares exactly the
    rows the timed op fetched instead of running the query again."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def _ints(row) -> tuple:
    return tuple(None if v is None else int(v) for v in row)


def _timed(tr, name: str, build):
    """Build a DataFrame, fetch it, and record the call's wall time."""
    t0 = time.perf_counter()
    df = build()
    pdf = df.toPandas()
    tr.add(name, (time.perf_counter() - t0) * 1000.0)
    tr.frame(df)
    return pdf


class Workload:
    """Base: ``ctx`` carries seed, work dir, Spark session, DuckDB
    connection and the tracer of the current op."""

    name = ""
    unit_ops = 1  # ops the loop may not split (a stream cycle)
    nominal_op_s = 1.0  # warm op time on a 4-core VM; sets the op count

    def __init__(self, ctx):
        self.ctx = ctx
        self.user_bytes = 0
        self.disk_bytes = 0

    def generate(self) -> None:
        """Inputs shared by every op; made before Spark starts."""

    def setup(self) -> None:
        """Session-side set-up, counted in ``setup_s``."""

    def prepare(self, i: int):
        return None

    def op(self, i: int, inp):
        raise NotImplementedError

    def check(self, i: int, inp, out) -> list[str]:
        raise NotImplementedError

    def rows(self, i: int, inp) -> int:
        raise NotImplementedError

    def traced_extras(self, i: int, inp) -> None:
        """Counters a traced op reads after its timed region."""

    def trace_once(self) -> list[str]:
        """Once per traced run, after the loop; returns check mismatches."""
        return []

    def bytes_per_user_byte(self) -> float:
        return self.disk_bytes / self.user_bytes

    def finish(self) -> None:
        """Per-run clean-up that must happen before Spark stops."""

    @property
    def tr(self):
        return self.ctx.trace


# ------------------------------------------------------------------ olap


class OlapQueries(Workload):
    """One dashboard refresh: the reference's four shapes through
    ``QueryExecutor`` plus four registry gates, over one seeded star schema."""

    name = "olap_queries"
    nominal_op_s = 3.0

    def generate(self):
        self.data = os.path.join(self.ctx.work, "olap")
        self.tables = gen.olap_tables(self.ctx.seed)
        self.disk_bytes = gen.write_tables(self.tables, self.data)
        self.user_bytes = sum(gen.logical_bytes(t) for t in self.tables.values())
        self.literal = gen.olap_filter_literal(self.ctx.seed)
        n = {k: t.num_rows for k, t in self.tables.items()}
        # lineitem: 4 QueryExecutor shapes + tpch_q1 + sort_top_k + the join;
        # the join also reads orders, customer, nation, region; the window
        # query reads orders.
        self.op_rows = 7 * n["lineitem"] + 2 * n["orders"] + n["customer"] + 30

    def setup(self):
        from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources import catalog
        from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import (
            all_queries,
        )

        names = list(self.tables)
        catalog.verify_table_schemas(self.ctx.spark, self.data, names)
        catalog.register_views(self.ctx.spark, self.data, names)
        self.gates = {g: all_queries()[g] for g in OLAP_GATES}
        for t in names:
            self.ctx.con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{self.data}/{t}.parquet')"
            )

    def _qe(self):
        from moteur_d_analytics_colonne_parquet_like_arrow_like__spark import QueryExecutor
        from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources import catalog

        return QueryExecutor(self.ctx.spark, catalog.load_table(self.ctx.spark, self.data, "lineitem"))

    def op(self, i, inp):
        from moteur_d_analytics_colonne_parquet_like_arrow_like__spark import (
            AggFunc,
            CompareOp,
            Predicate,
        )

        tr, out = self.tr, {}

        def shape(make):
            t0 = time.perf_counter()
            df = make()
            tr.add("query.build_ms", (time.perf_counter() - t0) * 1000.0)
            return df

        out["q_full_scan"] = _timed(tr, "olap.q_full_scan_ms", lambda: shape(
            lambda: self._qe().set_projection(SCAN_COLS).execute_query()))
        out["q_filtered_scan"] = _timed(tr, "olap.q_filtered_scan_ms", lambda: shape(
            lambda: self._qe().set_projection(SCAN_COLS).add_filter(
                Predicate("l_quantity", CompareOp.GT, self.literal)).execute_query()))
        out["q_aggregate"] = _timed(tr, "olap.q_aggregate_ms", lambda: shape(
            lambda: self._qe().set_aggregation(AggFunc.SUM, "l_extendedprice").aggregate_df()))
        out["q_group_by"] = _timed(tr, "olap.q_group_by_ms", lambda: shape(
            lambda: self._qe().set_aggregation(AggFunc.SUM, "l_quantity")
            .set_group_by("l_returnflag").execute_group_by()))
        for g, fn in self.gates.items():
            out[g] = _timed(tr, f"olap.{g}_ms", lambda: fn(self.ctx.spark, self.data))
        return out

    def check(self, i, inp, out):
        from tools.check_oracle import compare

        con, bad = self.ctx.con, []
        sums = ("SELECT count(*), sum(l_orderkey), sum(l_partkey), CAST(sum(l_quantity) AS BIGINT), "
                "sum(CAST(round(l_extendedprice * 100) AS BIGINT)) FROM lineitem")
        for q, where in (("q_full_scan", ""), ("q_filtered_scan", f" WHERE l_quantity > {self.literal}")):
            pdf = out[q]
            got = (len(pdf), pdf.l_orderkey.sum(), pdf.l_partkey.sum(), pdf.l_quantity.sum(),
                   (pdf.l_extendedprice * 100).round().astype("int64").sum())
            want = con.execute(sums + where).fetchone()
            if _ints(got) != _ints(want):
                bad.append(f"{q}: spark {_ints(got)} != duckdb {_ints(want)}")
        row = out["q_aggregate"].iloc[0]
        want = con.execute("SELECT count(*), sum(l_extendedprice), min(l_extendedprice), "
                           "max(l_extendedprice) FROM lineitem").fetchone()
        if (int(row["count"]), row["min"], row["max"]) != (want[0], want[2], want[3]) or \
                not math.isclose(row["sum"], want[1], rel_tol=1e-9):
            bad.append(f"q_aggregate: spark {tuple(row)} != duckdb {want}")
        got = [tuple(r) for r in out["q_group_by"].itertuples(index=False)]
        want = con.execute("SELECT l_returnflag, count(*), sum(l_quantity), min(l_quantity), "
                           "max(l_quantity) FROM lineitem GROUP BY 1 ORDER BY 1").fetchall()
        if [(r[0], *map(float, r[1:])) for r in got] != [(r[0], *map(float, r[1:])) for r in want]:
            bad.append(f"q_group_by: spark {got} != duckdb {want}")
        for g in OLAP_GATES:
            ok, msg = compare(g, Collected(out[g]), con)
            if not ok:
                bad.append(f"{g}: {msg}")
        return bad

    def rows(self, i, inp):
        return self.op_rows

    def trace_once(self):
        """One ``.col`` round trip, so the format's layers are measured too
        (see ``ColRoundtrip`` for why it is not a workload of its own)."""
        col = ColRoundtrip(self.ctx)
        col.setup()
        inp = col.prepare(0)
        out = col.op(0, inp)
        col.traced_extras(0, inp)
        return col.check(0, inp, out)


# ------------------------------------------------------------------ .col


def col_schema():
    """BASELINE.md's table: one column per ``.col`` encoding."""
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.schema import (
        ColumnSchema,
        ColumnType,
        EncodingType,
        Schema,
    )

    return Schema([
        ColumnSchema("id", ColumnType.INT64, EncodingType.PLAIN),
        ColumnSchema("value", ColumnType.INT64, EncodingType.DELTA),
        ColumnSchema("score", ColumnType.INT32, EncodingType.RLE),
        ColumnSchema("region", ColumnType.STRING, EncodingType.DICTIONARY),
    ])


class ColRoundtrip(Workload):
    """Write one fresh seeded ``.col`` table, then read it back through
    ``spark.read.format("col")``: full scan, zone-map-filtered scan, SUM and
    GROUP BY region.

    Not a timed workload: a run of it (about 29 s of set-up, then 6.5 s per
    op) does not fit the benchmark's time budget next to the other three,
    so ``olap_queries`` runs one of these ops in its traced run instead."""

    name = "col_roundtrip"

    def setup(self):
        from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.col_datasource import (
            register_col_datasource,
        )

        self.schema = col_schema()
        register_col_datasource(self.ctx.spark)

    def prepare(self, i):
        files = gen.col_rows(self.ctx.seed, i)
        path = os.path.join(self.ctx.work, "col", f"op{i:04d}")
        os.makedirs(path)
        lo = gen.col_filter_lo(self.ctx.seed, i, files[0][0][0])
        return files, path, lo

    def op(self, i, inp):
        from pyspark.sql import functions as F

        from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources import colfile

        files, path, lo = inp
        spark, tr = self.ctx.spark, self.tr
        with tr.span("colfile.write_ms"):
            for k, rows in enumerate(files):
                colfile.write_col_rows(rows, self.schema, os.path.join(path, f"part{k}.col"),
                                       gen.COL_ROWS_PER_GROUP)
        read = lambda **opts: spark.read.format("col").options(**opts).load(path)
        n = F.count(F.lit(1)).alias("n")
        return {
            "full": _timed(tr, "col_datasource.full_ms", lambda: read().agg(
                n, F.sum("id"), F.sum("value"), F.sum("score"), F.sum(F.length("region")))),
            "filtered": _timed(tr, "col_datasource.filtered_ms", lambda: read(
                predicate=f"id ge {lo}").agg(n, F.sum("id"), F.sum("value"))),
            "sum": _timed(tr, "col_datasource.sum_ms", lambda: read().agg(F.sum("value"))),
            "group_by": _timed(tr, "col_datasource.group_by_ms", lambda: read().groupBy(
                "region").agg(n, F.sum("value")).orderBy("region")),
        }

    def check(self, i, inp, out):
        files, path, lo = inp
        rows = [r for f in files for r in f]
        table = pa.table({c: [r[k] for r in rows] for k, c in enumerate(["id", "value", "score", "region"])})
        con = self.ctx.con
        con.register("col_rows", table)
        try:
            want = {
                "full": con.execute("SELECT count(*), sum(id), sum(value), sum(score), "
                                    "sum(length(region)) FROM col_rows").fetchall(),
                "filtered": con.execute(f"SELECT count(*), sum(id), sum(value) FROM col_rows "
                                        f"WHERE id >= {lo}").fetchall(),
                "sum": con.execute("SELECT sum(value) FROM col_rows").fetchall(),
                "group_by": con.execute("SELECT region, count(*), sum(value) FROM col_rows "
                                        "GROUP BY 1 ORDER BY 1").fetchall(),
            }
        finally:
            con.unregister("col_rows")
        bad = []
        for q, rows_want in want.items():
            got = [tuple(v if isinstance(v, str) else int(v) for v in r)
                   for r in out[q].itertuples(index=False)]
            exp = [tuple(v if isinstance(v, str) else int(v) for v in r) for r in rows_want]
            if got != exp:
                bad.append(f"{q}: spark {got} != duckdb {exp}")
        return bad

    def traced_extras(self, i, inp):
        from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources import colfile
        from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.col_datasource import (
            ColDataSourceReader,
        )

        files, path, lo = inp
        tr = self.tr
        groups = 0
        for f in sorted(glob.glob(os.path.join(path, "*.col"))):
            t0 = time.perf_counter()
            schema, row_groups, _ = colfile.read_col_metadata(f)
            tr.add("colfile.metadata_ms", (time.perf_counter() - t0) * 1000.0)
            groups += len(row_groups)
            for rg in row_groups:
                for cs, ch in zip(schema.columns, rg.chunks):
                    tr.add(f"colfile.bytes.{cs.encoding.name.lower()}", ch.total_size)
        kept = len(ColDataSourceReader({"path": path, "predicate": f"id ge {lo}"}).partitions())
        tr.add("col_datasource.partitions", len(ColDataSourceReader({"path": path}).partitions()))
        tr.add("col_datasource.row_groups", groups)
        tr.add("col_datasource.skip_ratio", 1.0 - kept / groups)


# ------------------------------------------------------------------ curation


class CorpusCuration(Workload):
    """Curate one fresh document shard per op: the exact n-gram Jaccard
    dedup audit (``dedup_clusters``) and a write of the survivors with
    ``sources.writer``. The traced run also times every prefix of the
    ``pipeline_end_to_end_auto`` funnel on one shard."""

    name = "corpus_curation"
    nominal_op_s = 3.0

    def prepare(self, i):
        shard = os.path.join(self.ctx.work, "shards", f"op{i:04d}")
        table = gen.documents_shard(self.ctx.seed, i)
        gen.write_tables({"documents": table}, shard)
        self.last_shard = shard
        return shard, table, os.path.join(self.ctx.work, "curated", f"op{i:04d}")

    def op(self, i, inp):
        from pyspark.sql import functions as F

        from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import dedup
        from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources import catalog, writer

        shard, _, out_dir = inp
        spark, tr = self.ctx.spark, self.tr
        docs = catalog.load_table(spark, shard, "documents")
        with tr.span("dedup.jaccard_pairs_ms"):
            pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", shingle_k=3, threshold=0.8)
            if not isinstance(tr, NullTracer):
                tr.add("dedup.jaccard_pairs", pairs.count())
        with tr.span("dedup.components_ms"):
            clusters = dedup.duplicate_clusters(pairs)
            result = clusters.orderBy("node")
            pdf = result.toPandas()
        tr.frame(result)
        dropped = clusters.where(F.col("node") != F.col("label")).select(F.col("node").alias("doc_id"))
        with tr.span("writer.write_ms"):
            writer.write_parquet(docs.join(dropped, "doc_id", "left_anti"), out_dir)
        return pdf

    def check(self, i, inp, out):
        from tools.check_oracle import compare

        shard, table, out_dir = inp
        con = self.ctx.con
        con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{shard}/documents.parquet')")
        bad = []
        ok, msg = compare("dedup_clusters", Collected(out), con)
        if not ok:
            bad.append(f"dedup_clusters: {msg}")
        # Once the clusters match the oracle, the survivors are every doc
        # that is no cluster's non-keeper member.
        dropped = set(out.node[out.node != out.label].tolist())
        want = sorted(d for d in table.column("doc_id").to_pylist() if d not in dropped)
        got = [r[0] for r in con.execute(
            f"SELECT doc_id FROM read_parquet('{out_dir}/*.parquet') ORDER BY 1").fetchall()]
        if got != want:
            bad.append(f"curated output: {len(got)} rows, expected {len(want)}")
        self.disk_bytes += dir_bytes(out_dir)[0]
        self.user_bytes += gen.logical_bytes(table)
        return bad

    def rows(self, i, inp):
        return inp[1].num_rows

    def traced_extras(self, i, inp):
        self.tr.add("writer.bytes", dir_bytes(inp[2])[0])

    def trace_once(self):
        from tools.check_oracle import compare

        from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import dedup
        from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources import catalog
        from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import pipeline2

        spark, tr, shard = self.ctx.spark, self.tr, self.last_shard
        docs = catalog.load_table(spark, shard, "documents")
        materialized = pipeline2.auto_materialize(docs.select("doc_id", "source", "text"))
        tr.add("curation.auto_materialize", int(materialized))
        tr.add("dedup.lsh_pairs", dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", num_hashes=16, bands=4, shingle_k=3, threshold=0.5).count())
        # One call of the gate's own composition. With stage materialization
        # on, each stage's survivors are written while the frames are built,
        # so the commit time of sK.parquet/_SUCCESS ends stage K; stage 5 is
        # the final fetch.
        scratch = os.path.join(self.ctx.work, "e2e")
        os.makedirs(scratch)
        t0 = time.time()
        frame = pipeline2.e2e_stage_frames(spark, shard, materialize_dir=scratch, materialize="auto")["s5"]
        pdf = frame.orderBy("doc_id").toPandas()
        ends = [os.path.getmtime(os.path.join(scratch, f"s{k}.parquet", "_SUCCESS"))
                for k in range(1, 5) if materialized] + [time.time()]
        stages = ("s1_exact_dedup", "s2_lsh_components", "s3_quality", "s4_mixture", "s5_pack")
        for stage, start, end in zip(stages[-len(ends):], [t0] + ends, ends):
            tr.add(f"curation.{stage}_ms", (end - start) * 1000.0)
        # This is exactly what the pipeline_end_to_end_auto gate returns.
        ok, msg = compare("pipeline_end_to_end_auto", Collected(pdf), self.ctx.con)
        return [] if ok else [f"pipeline_end_to_end_auto: {msg}"]


# ------------------------------------------------------------------ stream


class StreamUpsert(Workload):
    """Land one event batch in a growing directory, upsert the directory
    into a bucketed table with ``foreach_batch_upsert``, run the tumbling
    window gate over it, and read the table back. A cycle of
    ``BATCHES_PER_CYCLE`` ops starts from an empty directory, so every run
    repeats the same growth."""

    name = "stream_upsert"
    unit_ops = BATCHES_PER_CYCLE
    nominal_op_s = 2.0

    def __init__(self, ctx):
        super().__init__(ctx)
        self.ckpts_before = set(glob.glob(CKPT_GLOB))
        self.cycle_user_bytes = 0
        self.ratios = []

    def setup(self):
        from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import (
            all_oracles,
            all_queries,
        )

        self.window_gate = all_queries()["stream_tumbling_window"]
        self.upsert_oracle = all_oracles()["stream_upsert"]

    def ckpts_left(self) -> list[str]:
        return sorted(set(glob.glob(CKPT_GLOB)) - self.ckpts_before)

    def prepare(self, i):
        # Warm-up ops land in one-batch cycles of their own, so the timed
        # ops start on a cycle boundary.
        cycle, batch = (10_000 + i, 0) if i < WARMUP_OPS else divmod(i - WARMUP_OPS, BATCHES_PER_CYCLE)
        root = os.path.join(self.ctx.work, "stream", f"c{cycle}")
        table = gen.event_batch(self.ctx.seed, cycle, batch)
        gen.write_tables({f"events.parquet/part-{batch:05d}": table}, root)
        self.cycle_user_bytes = gen.logical_bytes(table) + (self.cycle_user_bytes if batch else 0)
        if batch == 0:
            self.cycle_ckpts = set(glob.glob(CKPT_GLOB))
        return root, batch, gen.lookup_users(self.ctx.seed, cycle, batch)

    def op(self, i, inp):
        from pyspark.sql import functions as F

        from moteur_d_analytics_colonne_parquet_like_arrow_like__spark import streaming as S

        root, batch, users = inp
        spark, tr = self.ctx.spark, self.tr
        table = os.path.join(root, "table")
        with tr.span("streaming.upsert_ms"):
            stream = S.events_stream(spark, root).select("user_id", "event_id", "ts", "event_type", "value")
            S.foreach_batch_upsert(stream, table, keys=["user_id"], order_cols=["ts", "event_id"],
                                   num_buckets=UPSERT_BUCKETS)
        window = _timed(tr, "streaming.window_ms", lambda: self.window_gate(spark, root))
        t0 = time.perf_counter()
        upserted = spark.read.parquet(table)
        counts = upserted.groupBy("event_type").count().orderBy("event_type")
        lookups = upserted.where(F.col("user_id").isin(users)).select(
            "user_id", "event_id", F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
            "event_type", "value").orderBy("user_id")
        out = {"window": window, "counts": counts.toPandas(), "lookups": lookups.toPandas()}
        tr.add("upsert.read_ms", (time.perf_counter() - t0) * 1000.0)
        tr.frame(counts)
        tr.frame(lookups)
        return out

    def check(self, i, inp, out):
        from tools.check_oracle import compare

        root, batch, users = inp
        con = self.ctx.con
        con.execute(f"CREATE OR REPLACE VIEW events AS SELECT * FROM "
                    f"read_parquet('{root}/events.parquet/*.parquet')")
        bad = []
        ok, msg = compare("stream_tumbling_window", Collected(out["window"]), con)
        if not ok:
            bad.append(f"stream_tumbling_window: {msg}")
        con.execute(f"CREATE OR REPLACE TEMP TABLE latest AS {self.upsert_oracle}")
        want = con.execute("SELECT event_type, count(*) FROM latest GROUP BY 1 ORDER BY 1").fetchall()
        got = [(r.event_type, int(r.count)) for r in out["counts"].itertuples(index=False)]
        if got != want:
            bad.append(f"per-type counts: spark {got} != duckdb {want}")
        in_list = ",".join(map(str, users))
        want = con.execute(f"SELECT * FROM latest WHERE user_id IN ({in_list}) ORDER BY user_id").fetchall()
        got = [tuple(r) for r in out["lookups"].itertuples(index=False)]
        if got != [tuple(r) for r in want]:
            bad.append(f"point lookups: spark {got} != duckdb {want}")
        table = os.path.join(root, "table")
        stored = con.execute(f"SELECT user_id, event_id FROM read_parquet('{table}/*/*.parquet', "
                             "hive_partitioning = true) ORDER BY 1").fetchall()
        if stored != con.execute("SELECT user_id, event_id FROM latest ORDER BY 1").fetchall():
            bad.append("upserted table differs from last-writer-wins over the landing directory")
        if batch == BATCHES_PER_CYCLE - 1:
            ckpt = sum(dir_bytes(c)[0] for c in set(glob.glob(CKPT_GLOB)) - self.cycle_ckpts)
            self.ratios.append((dir_bytes(table)[0] + ckpt) / self.cycle_user_bytes)
        return bad

    def rows(self, i, inp):
        landed = (inp[1] + 1) * gen.EVENTS_PER_BATCH
        # the upsert and the window query each re-read the whole directory;
        # the read-back reads the table, one row per user at most
        return 2 * landed + gen.N_USERS

    def bytes_per_user_byte(self):
        self.ratios.sort()
        return self.ratios[len(self.ratios) // 2]

    def traced_extras(self, i, inp):
        root, batch, _ = inp
        tr = self.tr
        upsert_rows = 0
        for p in tr.stream_progress():
            d = p.durationMs or {}
            for key, name in (("addBatch", "add_batch"), ("queryPlanning", "query_planning"),
                              ("walCommit", "wal_commit"), ("commitOffsets", "commit_offsets"),
                              ("latestOffset", "latest_offset")):
                tr.add(f"streaming.{name}_ms", d.get(key, 0))
            if "ForeachBatchSink" in p.sink.description:
                upsert_rows += p.numInputRows
            for s in p.stateOperators:
                tr.add("streaming.state_commit_ms", s.commitTimeMs)
                tr.add("streaming.state_rows", s.numRowsTotal)
        tr.add("streaming.useful_input_ratio", gen.EVENTS_PER_BATCH / max(upsert_rows, 1))
        left = self.ckpts_left()
        tr.add("streaming.ckpt_dirs_left", len(left))
        tr.add("streaming.ckpt_bytes_left", sum(dir_bytes(c)[0] for c in left))
        table = os.path.join(root, "table")
        nbytes, nfiles = dir_bytes(table)
        tr.add("upsert.table_bytes", nbytes)
        tr.add("upsert.table_files", nfiles)
        since = self.ctx.op_started
        tr.add("upsert.buckets_touched", sum(
            1 for b in glob.glob(os.path.join(table, "__bucket=*"))
            if any(os.path.getmtime(f) >= since for f in glob.glob(os.path.join(b, "*")))))

    def finish(self):
        """Count, then delete, the checkpoint dirs the upsert calls left."""
        left = self.ckpts_left()
        for c in left:
            shutil.rmtree(c, ignore_errors=True)
        print(f"stream_upsert: deleted {len(left)} upsert checkpoint dirs", file=sys.stderr)


WORKLOADS = {w.name: w for w in (OlapQueries, CorpusCuration, StreamUpsert)}
