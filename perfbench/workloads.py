"""The closed-loop workloads (one client, one operation in flight).

``export_sync`` chains the two halves of a migration, ``BulkraxExport``
(sources.io + etl) and ``LedgerSync`` (sources.ledger +
streaming.ledger_sink); ``analytics_mix`` runs registered plans and the
shared function builds. Each workload object owns its inputs and
exposes:

- ``prepare()``: build the seeded inputs (untimed);
- ``check()``: one full cycle whose outputs are verified against the
  generator's expectations; it is also the JIT warm-up, so it runs
  before the timed region;
- ``cycle(tracer)``: one fixed unit of work, returning
  [(operation kind, seconds), ...]; a disabled tracer adds nothing;
- ``final_check()``: cheap checks after the timed cycles;
- ``layer_metrics(tracer)``: per-layer numbers after a traced cycle;
- ``detail(ops)``: the workload's own end-to-end figures.

``op_kinds`` names the operation kinds the geometric mean of per-kind
medians is taken over.
"""

from __future__ import annotations

import contextlib
import csv
import gc
import glob
import os
import random
import shutil
import statistics
import time

import generate
import mapping
import measure
import spans
from pyspark.sql import functions as F

from eprints_to_hyku_data_tool_spark import etl
from eprints_to_hyku_data_tool_spark.functions import copurchase, grams, memo, ordering
from eprints_to_hyku_data_tool_spark.plans import registry
from eprints_to_hyku_data_tool_spark.sources import io, ledger
from eprints_to_hyku_data_tool_spark.sources.tables import TABLES
from eprints_to_hyku_data_tool_spark.streaming import ledger_sink


class CheckFailed(AssertionError):
    """An engine output differs from the generator's expectation."""


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


# --------------------------------------------------------------------------
# export_sync, first half: the Bulkrax export
# --------------------------------------------------------------------------
class BulkraxExport:
    """read_json -> eprints_to_bulkrax -> write_bulkrax_csv (4 import
    files, shuffle=True) plus both referential-integrity reports, over a
    seeded EPrints JSON-Lines export."""

    op_kinds = ("export",)
    N_RECORDS = 10_000
    N_FILES = 4
    SCHEMA = etl.EPRINTS_SCHEMA + ", _corrupt_record string"

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.seed = spark, seed
        self.jsonl = os.path.join(work, "export.jsonl")
        self.csv_dir = os.path.join(work, "bulkrax_csv")
        self.layer: dict[str, float] = {}

    def prepare(self) -> dict:
        self.records = generate.eprints_export(self.seed, self.N_RECORDS)
        self.expected_counts = generate.export_counts(self.records)
        size = generate.write_jsonl(self.records, self.jsonl)
        vocab = generate.subject_map()
        self.labels = dict(vocab)
        self.subjects = self.spark.createDataFrame(vocab, "code string, label string")
        return {"records": self.N_RECORDS, "jsonl_bytes": size}

    def _export(self, tracer) -> tuple[int, int]:
        with tracer.span("io.read_json"):
            df = io.read_json(self.spark, self.jsonl, schema=self.SCHEMA)
        with tracer.span("etl.eprints_to_bulkrax"):
            out = etl.eprints_to_bulkrax(df, self.subjects)
        with tracer.span("io.write_bulkrax_csv"):
            io.write_bulkrax_csv(out, self.csv_dir, n_files=self.N_FILES, shuffle=True)
        with tracer.span("etl.unmapped_subjects_report"):
            n_unmapped = etl.unmapped_subjects_report(df, self.subjects).count()
        with tracer.span("etl.null_main_documents"):
            n_null = etl.null_main_documents(df).count()
        return n_unmapped, n_null

    def cycle(self, tracer) -> list[tuple[str, float]]:
        if tracer.enabled:
            return [("export", self._traced_export(tracer))]
        (n_unmapped, n_null), secs = _timed(lambda: self._export(tracer))
        self._check_counts(n_unmapped, n_null)
        return [("export", secs)]

    def _check_counts(self, n_unmapped: int, n_null: int) -> None:
        exp = self.expected_counts
        _expect(n_unmapped == exp["unmapped_subjects"], "unmapped_subjects_report count")
        _expect(n_null == exp["null_main_documents"], "null_main_documents count")

    def _traced_export(self, tracer) -> float:
        """The traced export, then staged noop materializations of the
        parse and of parse+transform, so each layer's self time is a
        difference of cumulative stages. The staging jobs run under
        their own job group and count as tracing overhead, not as layer
        time."""
        t0 = time.perf_counter()
        n_unmapped, n_null = self._export(tracer)
        df = io.read_json(self.spark, self.jsonl, schema=self.SCHEMA)
        out = etl.eprints_to_bulkrax(df, self.subjects)
        with tracer.span("staging"):
            _, parse_s = _timed(lambda: _noop(df))
            _, transform_s = _timed(lambda: _noop(out))
            # eprintid is referenced too: Spark refuses a query over raw
            # JSON that reads only the corrupt-record column.
            counts = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.count("eprintid").alias("ids"),
                F.count("_corrupt_record").alias("corrupt"),
            ).first()
        wall = time.perf_counter() - t0
        self._check_counts(n_unmapped, n_null)
        s = tracer.self_seconds
        write_s = s["io.write_bulkrax_csv"]
        # The untraced export parses the JSON three times (the CSV write
        # and both reports each scan it): all three parses are the
        # reader's self time.
        self.layer = {
            "io.read_json_s": s["io.read_json"] + 3 * parse_s,
            "etl.eprints_to_bulkrax_s": s["etl.eprints_to_bulkrax"]
            + max(0.0, transform_s - parse_s),
            "io.write_bulkrax_csv_s": max(0.0, write_s - transform_s),
            "etl.unmapped_subjects_report_s": max(
                0.0, s["etl.unmapped_subjects_report"] - parse_s
            ),
            "etl.null_main_documents_s": max(
                0.0, s["etl.null_main_documents"] - parse_s
            ),
            "io.read_json_records": counts["n"],
            "io.read_json_corrupt_records": counts["corrupt"],
            "io.write_bulkrax_csv_bytes": sum(
                os.path.getsize(p) for p in self._csv_files()
            ),
            "etl.rows_out_per_record": self._csv_row_count() / counts["n"],
        }
        return wall

    def _csv_files(self) -> list[str]:
        return sorted(glob.glob(os.path.join(self.csv_dir, "part-*.csv")))

    def _csv_rows(self):
        for path in self._csv_files():
            with open(path, newline="", encoding="utf-8") as fh:
                reader = csv.reader(fh)
                _expect(next(reader) == etl.BULKRAX_COLUMNS, f"header of {path}")
                yield from reader

    def _csv_row_count(self) -> int:
        return sum(1 for _ in self._csv_rows())

    def check(self) -> None:
        """Full verification of one export: file count, headers, row
        count, report counts, and a seeded sample of rows equal to the
        independent pure-Python mapping."""
        _expect(etl.BULKRAX_COLUMNS == mapping.COLUMNS, "Bulkrax column list")
        self.cycle(_OFF)
        files = self._csv_files()
        _expect(len(files) == self.N_FILES, f"{len(files)} csv files")
        rows = {r[0]: r for r in self._csv_rows()}
        _expect(len(rows) == self.N_RECORDS, f"csv rows {len(rows)}")
        for rec in random.Random(self.seed).sample(self.records, 500):
            want = mapping.bulkrax_row(rec, self.labels)
            got = dict(zip(mapping.COLUMNS, rows.get(want["source_identifier"], [])))
            _expect(got == want, f"row of eprint {rec['eprintid']}")

    def final_check(self) -> None:
        _expect(self._csv_row_count() == self.N_RECORDS, "csv rows after the loop")

    def layer_metrics(self, tracer) -> dict:
        return dict(self.layer)

    def detail(self, ops: list[tuple[str, float]]) -> dict:
        secs = [s for _, s in ops]
        return {
            "records_per_s": {
                "value": self.N_RECORDS * len(secs) / sum(secs), "unit": "1/s"
            },
        }


# --------------------------------------------------------------------------
# export_sync, second half: the ledger sync
# --------------------------------------------------------------------------
class LedgerSync:
    """A fresh ledger table (4 key-ordered file groups) receives a fixed
    sequence of delta batches through ledger_sink.merge_batch, with
    a withdrawn-item delete every second step, three 50-key lookups per
    step, one time-travel read, one re-delivered batch id and one
    compaction."""

    op_kinds = ("create", "merge", "lookup", "delete", "time_travel", "compact")
    BASE_ROWS = 20_000
    BASE_GROUPS = 4
    STEPS = 2
    DELTA_ROWS = 200
    TT_AFTER_STEP = 1  # the time-travel read targets the state after this step
    TT_AT_STEP = 2
    REDELIVER_AT_STEP = 2
    COMPACT_AT_STEP = 2
    APP = "perfbench-sync"
    SCHEMA = (
        "eprintid long, title string, creator string, subject string, "
        "date_created string, file string"
    )

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.table = os.path.join(work, "ledger_table")
        self.layer: dict[str, float] = {}

    def prepare(self) -> dict:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.plan = generate.ledger_plan(
            self.seed, self.BASE_ROWS, self.BASE_GROUPS, self.STEPS, self.DELTA_ROWS
        )
        base_dir = os.path.join(self.work, "ledger_base")
        os.makedirs(base_dir)
        self.base_paths = []
        for i, rows in enumerate(self.plan["base"]):
            cols = list(zip(*rows))
            path = os.path.join(base_dir, f"group{i}.parquet")
            pq.write_table(
                pa.table(
                    {c: pa.array(v, pa.int64() if c == "eprintid" else pa.string())
                     for c, v in zip(generate.LEDGER_COLUMNS, cols)}
                ),
                path,
            )
            self.base_paths.append(path)
        self.deltas = [
            self.spark.createDataFrame(st["delta"], self.SCHEMA)
            for st in self.plan["steps"]
        ]
        self.withdrawn = [
            F.col("eprintid").isin(st["withdrawn"]) if st["withdrawn"] else None
            for st in self.plan["steps"]
        ]
        states = self.plan["states"]
        self.want_final = measure.row_hash(states[self.STEPS].values())
        self.want_tt = measure.row_hash(states[self.TT_AFTER_STEP].values())
        self.want_lookups = [
            [sum(1 for k in states[s] if lo <= k <= hi) for lo, hi in st["lookups"]]
            for s, st in enumerate(self.plan["steps"], 1)
        ]
        return {
            "base_rows": self.BASE_ROWS,
            "steps": self.STEPS,
            "delta_rows": self.DELTA_ROWS,
            "final_rows": len(states[self.STEPS]),
        }

    def _read_base(self, i: int):
        return self.spark.read.schema(self.SCHEMA).parquet(self.base_paths[i])

    def _create(self, spark, table: str) -> None:
        """The base table: one create and one append per further group."""
        ledger.create(spark, table, self._read_base(0), key="eprintid")
        for i in range(1, len(self.base_paths)):
            ledger.append(spark, table, self._read_base(i))

    def cycle(self, tracer, verify: bool = False) -> list[tuple[str, float]]:
        spark, table = self.spark, self.table
        shutil.rmtree(table, ignore_errors=True)
        traced = tracer.enabled
        with tracer.span("ledger.create"):
            _, secs = _timed(lambda: self._create(spark, table))
        ops: list[tuple[str, float]] = [("create", secs)]
        probe = _LedgerProbe(spark, table) if traced else None
        with _spanned(ledger, "merge", tracer):
            self._steps(tracer, probe, ops, verify)
        det = ledger.details(table)
        _expect(
            det["rows"] == len(self.plan["states"][self.STEPS]), "final row count"
        )
        if traced:
            self.layer.update(probe.summary(det))
        return ops

    def _steps(self, tracer, probe, ops, verify) -> None:
        spark, table, traced = self.spark, self.table, tracer.enabled
        tt_version = None
        lookups_seen: list[list[int]] = []
        for s, step in enumerate(self.plan["steps"], 1):
            before = probe.snapshot() if traced else None
            with tracer.span("ledger_sink.merge_batch"):
                v, secs = _timed(
                    lambda: ledger_sink.merge_batch(table, self.deltas[s - 1], s, self.APP)
                )
            _expect(v is not None, f"batch {s} was skipped")
            ops.append(("merge", secs))
            if traced:
                probe.after_merge(before, generate.user_bytes(step["delta"]))
            if s == self.REDELIVER_AT_STEP:
                with tracer.span("ledger_sink.merge_batch"):
                    again = ledger_sink.merge_batch(table, self.deltas[s - 1], s, self.APP)
                _expect(again is None, f"re-delivered batch {s} was applied")
                if traced:
                    self.layer["ledger_sink.redelivered_skipped"] = 1
            if self.withdrawn[s - 1] is not None:
                with tracer.span("ledger.delete_where"):
                    v, secs = _timed(
                        lambda: ledger.delete_where(spark, table, self.withdrawn[s - 1])
                    )
                ops.append(("delete", secs))
            if s == self.TT_AFTER_STEP:
                tt_version = v
            counts = []
            for lo, hi in step["lookups"]:
                with tracer.span("ledger.read"):
                    rows, secs = _timed(
                        lambda: ledger.read(spark, table, key_between=(lo, hi)).collect()
                    )
                ops.append(("lookup", secs))
                counts.append(len(rows))
                if traced:
                    probe.lookup(lo, hi)
            lookups_seen.append(counts)
            if s == self.TT_AT_STEP:
                with tracer.span("ledger.read"):
                    tt_rows, secs = _timed(
                        lambda: ledger.read(spark, table, version=tt_version).collect()
                    )
                ops.append(("time_travel", secs))
                if verify:
                    _expect(
                        measure.row_hash(tuple(r) for r in tt_rows) == self.want_tt,
                        "time-travel snapshot hash",
                    )
            if s == self.COMPACT_AT_STEP:
                with tracer.span("ledger.compact"):
                    _, secs = _timed(
                        lambda: ledger.compact(spark, table, max_rows=2 * self.BASE_ROWS)
                    )
                ops.append(("compact", secs))
        _expect(lookups_seen == self.want_lookups, "lookup row counts")

    def check(self) -> None:
        """One cycle with the time-travel snapshot and the final
        snapshot hash-compared against the generator's states."""
        self.cycle(_OFF, verify=True)
        self.final_check()

    def final_check(self) -> None:
        rows = ledger.read(self.spark, self.table).collect()
        _expect(
            measure.row_hash(tuple(r) for r in rows) == self.want_final,
            "final snapshot hash",
        )

    def layer_metrics(self, tracer) -> dict:
        s = tracer.self_seconds
        return {
            **self.layer,
            "ledger_sink.merge_batch_s": s["ledger_sink.merge_batch"],
            "ledger.merge_s": s["ledger.merge"],
            "ledger.delete_where_s": s["ledger.delete_where"],
            "ledger.compact_s": s["ledger.compact"],
            "ledger.read_s": s["ledger.read"],
            "ledger.create_s": s["ledger.create"],
        }

    def detail(self, ops: list[tuple[str, float]]) -> dict:
        merges = [x for k, x in ops if k == "merge"]
        lookups = [x * 1000.0 for k, x in ops if k == "lookup"]
        stored = sum(
            os.path.getsize(_local(p))
            for p in ledger.read(self.spark, self.table).inputFiles()
        )
        user = generate.user_bytes(self.plan["states"][self.STEPS].values())
        m, lk = measure.summary(merges), measure.summary(lookups)
        return {
            "merge_p50_s": {"value": m["p50"], "unit": "s", "n": m["n"]},
            "merge_tail_s": _tail_entry(m, "s"),
            "lookup_p50_ms": {"value": lk["p50"], "unit": "ms", "n": lk["n"]},
            "lookup_tail_ms": _tail_entry(lk, "ms"),
            "stored_bytes_per_user_byte": {"value": stored / user, "unit": "B/B"},
        }


@contextlib.contextmanager
def _spanned(module, attr: str, tracer):
    """Time ``module.attr`` as a child span while a traced cycle runs:
    the engine calls it through the module attribute, so the span nests
    inside the caller's (ledger_sink.merge_batch -> ledger.merge)."""
    if not tracer.enabled:
        yield
        return
    inner = getattr(module, attr)
    span_name = f"{module.__name__.rsplit('.', 1)[-1]}.{attr}"

    def wrapped(*args, **kwargs):
        with tracer.span(span_name):
            return inner(*args, **kwargs)

    setattr(module, attr, wrapped)
    try:
        yield
    finally:
        setattr(module, attr, inner)


def _local(uri: str) -> str:
    """A local filesystem path from a ``file:`` URI (DataFrame.inputFiles)."""
    return uri[len("file:"):] if uri.startswith("file:") else uri


def _tail_entry(summ: dict, unit: str) -> dict:
    t = summ["tail"]
    if t is None:
        return {"value": None, "unit": unit, "n": summ["n"],
                "note": "fewer than 10 samples beyond p50"}
    return {"value": t["value"], "unit": unit, "percentile": t["p"], "n": t["n"]}


class _LedgerProbe:
    """Storage-side observations of a traced ledger cycle, taken from
    the table's files and the public read/details API between calls."""

    def __init__(self, spark, table: str):
        self.spark, self.table = spark, table
        self.rewritten: list[int] = []
        self.amplification: list[float] = []
        self.orphans = 0
        self.scanned: list[int] = []

    def _live_groups(self) -> set[str]:
        return {
            p.split("/")[-2]
            for p in ledger.read(self.spark, self.table).inputFiles()
        }

    def snapshot(self) -> tuple[set[str], set[str]]:
        return self._live_groups(), set(os.listdir(os.path.join(self.table, "data")))

    def after_merge(self, before, delta_bytes: int) -> None:
        live0, dirs0 = before
        live1 = self._live_groups()
        new_dirs = set(os.listdir(os.path.join(self.table, "data"))) - dirs0
        self.rewritten.append(len(live0 - live1))
        written = sum(
            measure.dir_bytes(os.path.join(self.table, "data", d))
            for d in new_dirs & live1
        )
        self.amplification.append(written / delta_bytes)
        # A lost commit race leaves its rewritten group unreferenced.
        self.orphans += len(new_dirs - live1)

    def lookup(self, lo, hi) -> None:
        files = ledger.read(self.spark, self.table, key_between=(lo, hi)).inputFiles()
        self.scanned.append(len({p.split("/")[-2] for p in files}))

    def summary(self, det: dict) -> dict:
        manifests = glob.glob(os.path.join(self.table, "_ledger", "[0-9]*.json"))
        return {
            "ledger.groups_rewritten_per_merge": _mean(self.rewritten),
            "ledger.merge_write_amplification": _mean(self.amplification),
            "ledger.commit_retries": self.orphans,
            "ledger.groups_scanned_per_lookup": _mean(self.scanned),
            "ledger.key_overlap": det["key_overlap"],
            "ledger.manifest_bytes_per_commit": _mean(
                [os.path.getsize(p) for p in manifests]
            ),
        }


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


# --------------------------------------------------------------------------
# analytics_mix
# --------------------------------------------------------------------------
QUERY_SUFFIXES = (
    "groupby_multi_agg", "inner_join", "rollup", "topk_per_group", "lag_lead",
    "large_orders", "triangle_count", "tfidf", "bm25",
)
MEMO_BUILDS = {
    # triangle_node_stats builds the whole co-purchase ladder (read by
    # triangle_count).
    "copurchase": copurchase.triangle_node_stats,
    "grams": grams.doc_grams8,
}


def resolve_suffixes(names, suffixes=QUERY_SUFFIXES) -> dict[str, str]:
    """suffix -> registered name; a suffix matching zero or several
    names is an error (names rotate, suffixes are the stable identity)."""
    out = {}
    for sfx in suffixes:
        hits = sorted(n for n in names if n.endswith("_" + sfx))
        if len(hits) != 1:
            raise LookupError(f"query suffix {sfx!r} matches {hits}")
        out[sfx] = hits[0]
    return out


class AnalyticsMix:
    """The shared memo builds followed by 9 registered queries, each
    written to the noop sink, over seeded fixture tables."""

    op_kinds = tuple(f"build.{b}" for b in MEMO_BUILDS) + QUERY_SUFFIXES

    def __init__(self, spark, work: str, seed: int, tables_dir: str):
        # The fixture tables are generated from the seed by run.py: the
        # same tables feed warm_session.
        self.spark, self.tables_dir = spark, tables_dir

    def prepare(self) -> dict:
        registry._load_all()
        self.names = resolve_suffixes(registry.REGISTRY)
        return {"queries": len(self.names)}

    def _reset(self) -> None:
        """Drop every memoized intermediate and ordering pin, so each
        cycle pays the shared builds again (the memo has no public
        reset; its module dict is the only handle)."""
        with memo._LOCK:
            memo._MEMO.clear()
        ordering.release_pins()
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def cycle(self, tracer) -> list[tuple[str, float]]:
        self._reset()
        ops = []
        for b, build in MEMO_BUILDS.items():
            with tracer.span(f"functions.{b}_build"):
                _, secs = _timed(lambda: build(self.spark, self.tables_dir))
            ops.append((f"build.{b}", secs))
        for sfx, name in self.names.items():
            ordering.release_pins()
            fn = registry.REGISTRY[name].fn
            with tracer.span(f"plans.{sfx}"):
                _, secs = _timed(lambda: _noop(fn(self.spark, self.tables_dir)))
            ops.append((sfx, secs))
        return ops

    def check(self) -> None:
        """Each query once against its registered DuckDB oracle: row
        count and order-insensitive hash."""
        import duckdb

        self._reset()
        con = duckdb.connect()
        try:
            for t in TABLES:
                path = os.path.join(self.tables_dir, f"{t}.parquet").replace("'", "''")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            for sfx, name in self.names.items():
                spec = registry.REGISTRY[name]
                _expect(spec.oracle is not None, f"{name} has no oracle")
                ordering.release_pins()
                got = spec.fn(self.spark, self.tables_dir).toArrow().to_pylist()
                want = con.execute(spec.oracle).fetch_arrow_table().to_pylist()
                _expect(len(got) == len(want), f"{name}: {len(got)} rows, oracle {len(want)}")
                _expect(
                    measure.row_hash(tuple(r.values()) for r in got)
                    == measure.row_hash(tuple(r.values()) for r in want),
                    f"{name}: row hash differs from the oracle",
                )
        finally:
            con.close()

    def final_check(self) -> None:
        pass

    def layer_metrics(self, tracer) -> dict:
        s = tracer.self_seconds
        out = {f"plans.{sfx}_s": s[f"plans.{sfx}"] for sfx in QUERY_SUFFIXES}
        for b in MEMO_BUILDS:
            out[f"functions.{b}_build_s"] = s[f"functions.{b}_build"]
        out["functions.memo_build_s"] = sum(s[f"functions.{b}_build"] for b in MEMO_BUILDS)
        return out

    def detail(self, ops: list[tuple[str, float]]) -> dict:
        q = [statistics.median([s for k, s in ops if k == sfx]) for sfx in QUERY_SUFFIXES]
        return {"query_geomean_s": {"value": measure.geomean(q), "unit": "s"}}


class ExportSync:
    """A migration cycle: the Bulkrax export of a seeded EPrints dump,
    then an incremental re-harvest sync into a ledger table. The two
    halves share no data, so each keeps its own expected outputs."""

    op_kinds = BulkraxExport.op_kinds + LedgerSync.op_kinds

    def __init__(self, spark, work: str, seed: int, tables_dir: str):
        self.export = BulkraxExport(spark, work, seed)
        self.sync = LedgerSync(spark, work, seed)

    def prepare(self) -> dict:
        return {**self.export.prepare(), **self.sync.prepare()}

    def check(self) -> None:
        self.export.check()
        self.sync.check()

    def cycle(self, tracer) -> list[tuple[str, float]]:
        return self.export.cycle(tracer) + self.sync.cycle(tracer)

    def final_check(self) -> None:
        self.export.final_check()
        self.sync.final_check()

    def layer_metrics(self, tracer) -> dict:
        return {**self.export.layer_metrics(tracer), **self.sync.layer_metrics(tracer)}

    def detail(self, ops: list[tuple[str, float]]) -> dict:
        return {
            **self.export.detail([o for o in ops if o[0] in BulkraxExport.op_kinds]),
            **self.sync.detail([o for o in ops if o[0] in LedgerSync.op_kinds]),
        }


WORKLOADS = {"export_sync": ExportSync, "analytics_mix": AnalyticsMix}


# Checks run their cycle untraced.
_OFF = spans.Tracer(None, enabled=False)
