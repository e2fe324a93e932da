"""The benchmark's workloads: what one operation does, what a pass is,
and how outputs are checked.

- ``daily_pipeline``: the reference's own daily job, one simulated market
  day per operation (ingest, sector price, persist, read back, chart
  frames). The only workload that writes.
- ``llm_dedup``: LLM-data headliners (MinHash near-dup detection,
  connected components, PQ top-k). Shuffles, iterative jobs and a
  pandas cogroup.

Operations run through :class:`Layers`, which times build, plan and
execute as separate spans when tracing is on.
"""

from __future__ import annotations

import shutil
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
import procstat
from tracing import Py4jCounter, Tracer

class Layers:
    """Wraps the phases of an operation. With tracing off every wrapper
    only runs its body; with tracing on each phase becomes a span and
    per-pass counters accumulate in ``acc``."""

    def __init__(self, spark, tracer: Tracer, jvm_pid: int):
        self.spark = spark
        self.tracer = tracer
        self.jvm_pid = jvm_pid
        self.counter: Py4jCounter | None = None  # set while a pass is traced
        self.acc: dict[str, float] = defaultdict(float)

    @contextmanager
    def build(self, module: str):
        if not self.tracer.enabled:
            yield
            return
        calls = self.counter.calls
        with self.tracer.span(f"build:{module}"):
            yield
        self.acc["py4j_calls"] += self.counter.calls - calls

    def sink(self, *dfs) -> None:
        """Plan each frame, then run that same planned query and drop its
        rows. Each query is planned once, inside the plan span; the
        execute span runs it (adaptive re-planning included)."""
        qes = []
        with self.tracer.span("plan"):
            for df in dfs:
                qe = df._jdf.queryExecution()
                qe.executedPlan()
                qes.append(qe)
        with self._execute():
            for qe in qes:
                qe.toRdd().count()

    @contextmanager
    def _execute(self):
        if not self.tracer.enabled:
            yield
            return
        cpu = procstat.tree_cpu(self.jvm_pid)
        with self.tracer.span("exec"):
            yield
        d = procstat.tree_cpu(self.jvm_pid) - cpu
        self.acc["exec.jvm_cpu_s"] += d.jvm_s
        self.acc["exec.python_cpu_s"] += d.python_s

    @contextmanager
    def io(self, name: str):
        with self.tracer.span(f"io.{name}"):
            yield


@dataclass
class Op:
    label: str  # stable name of the operation
    run: Callable[[Layers], list]  # returns the DataFrames it executed


@dataclass
class Workload:
    seed: int
    work: Path
    sizes: dict = field(default_factory=dict)
    # unreported passes between set-up and the timed ones
    settle_passes = 0

    def prepare(self) -> None:
        """Generate this run's inputs under ``work`` (not timed)."""

    def warm_ops(self) -> list[Op]:
        raise NotImplementedError

    def pass_ops(self, k: int) -> list[Op]:
        raise NotImplementedError

    def before_pass(self, k: int) -> None:
        """Untimed per-pass preparation."""

    def check(self, spark, frames: dict[str, list]) -> list[str]:
        """Labels of operations whose output is wrong. ``frames`` maps
        each operation of the last timed pass to the DataFrames it ran."""
        raise NotImplementedError

    def io_stats(self) -> dict[str, float]:
        return {}

    def describe(self) -> dict:
        return {"seed": self.seed, "sizes": self.sizes, "ops": [o.label for o in self.pass_ops(0)]}


# ---------------------------------------------------------------------------
# LLM-data headliners
# ---------------------------------------------------------------------------


class LlmDedup(Workload):
    """q54: MinHash-LSH with verification, the build-heaviest headliner;
    q66: connected components, one checkpointed job per round; q194: PQ
    top-k, whose codeword assignment is a pandas cogroup. The three read
    only ``documents`` and ``embeddings``, so only those are generated.

    Both tables hold 500 rows, their count in the shared fixtures at
    sf0.001 and sf0.01, and the warm-up and the timed passes read the
    same files. The sf0.1 counts (5000 documents, 2000 embeddings) do
    not fit a run's time budget of about 70 s on a 4-core machine: they
    add about 2 s to a pass and 28 s to the output check, whose oracle
    comparisons take 10.8 s (q54), 9.3 s (q66) and 17.2 s (q194) there
    against 3.6, 3.3 and 3.5 s at 500 rows."""

    queries = ("q54_minhash_lsh_verified", "q66_dup_clusters", "q194_pq_adc_topk")
    # After the warm pass the JVM is still compiling: the next passes take
    # about 12, 10, 8 and 7.5 s on 4 cores, and the steps grow when
    # co-tenants slow the compiler threads. One settle pass takes the
    # steepest step out of the timed passes. daily_pipeline has none: its
    # passes take 11 s, and a settle pass would lengthen each run by a
    # fifth.
    settle_passes = 1
    rows = {"documents": 500, "embeddings": 500}

    def prepare(self) -> None:
        self.sizes = dict(self.rows)
        datagen.write_llm_tables(self._dir(), self.rows["documents"], self.rows["embeddings"], self.seed)

    def _dir(self) -> Path:
        return self.work / "data"

    def _ops(self) -> list[Op]:
        from stock_data_pipeline_spark.queries import REGISTRY

        def op(fn, sf_dir: str):
            def run(layers: Layers):
                with layers.build("queries"):
                    df = fn(layers.spark, sf_dir)
                layers.sink(df)
                return [df]

            return run

        return [Op(n, op(REGISTRY[n].fn, str(self._dir()))) for n in self.queries]

    def warm_ops(self) -> list[Op]:
        return self._ops()

    def pass_ops(self, k: int) -> list[Op]:
        return self._ops()

    def check(self, spark, frames: dict[str, list]) -> list[str]:
        """Row count and value hash of each query's output against its
        DuckDB oracle, by the rules of ``oracle.compare_query``. The
        frames are the ones the last timed pass built: the check runs them
        once more but does not build them again (q66's build alone runs
        every connected-components round). A query that raised in that
        pass is built afresh."""
        import duckdb

        from stock_data_pipeline_spark.oracle import compare_query

        con = duckdb.connect()
        sf_dir = str(self._dir())
        for t in self.rows:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        bad = []
        for name in self.queries:
            try:
                if name in frames:
                    status = _compare_frame(con, name, frames[name][0])
                else:
                    status = compare_query(spark, con, name, sf_dir)["status"]
            except Exception as exc:  # a raise is a failed check
                status = f"ERROR {exc!s:.200}"
            if status not in ("MATCH", "rows_only"):
                print(f"check failed: {name}: {status}")
                bad.append(name)
        con.close()
        return bad


def _compare_frame(con, name: str, df) -> str:
    """``oracle.compare_query``'s verdict for a frame already built:
    schema, per-column type class, row count, then the order-insensitive
    value hash, each against the query's DuckDB oracle."""
    from stock_data_pipeline_spark.oracle import _col_type_classes, _value_hash
    from stock_data_pipeline_spark.queries import REGISTRY

    s_cols = df.columns
    s_rows = [tuple(r) for r in df.collect()]
    sql = REGISTRY[name].oracle
    if sql is None:
        return "rows_only"
    otab = con.execute(sql).fetch_arrow_table()
    o_cols = list(otab.column_names)
    o_rows = list(zip(*(c.to_pylist() for c in otab.columns)))
    if sorted(s_cols) != sorted(o_cols):
        return "SCHEMA_MISMATCH"
    s_order = [s_cols.index(c) for c in sorted(s_cols)]
    o_order = [o_cols.index(c) for c in sorted(o_cols)]
    for si, oi in zip(s_order, o_order):
        sc, oc = _col_type_classes(s_rows, si), _col_type_classes(o_rows, oi)
        if sc and oc and sc != oc:
            return "TYPE_MISMATCH"
    if len(s_rows) != len(o_rows):
        return "ROWCOUNT_MISMATCH"
    return "MATCH" if _value_hash(s_rows, s_order) == _value_hash(o_rows, o_order) else "VALUE_MISMATCH"


# ---------------------------------------------------------------------------
# Daily pipeline
# ---------------------------------------------------------------------------

_DEC = pa.decimal128(10, 2)
PRICES_ARROW = pa.schema(
    [
        ("date", pa.date32()),
        ("ticker", pa.string()),
        ("open", _DEC),
        ("high", _DEC),
        ("low", _DEC),
        ("close", _DEC),
        ("volume", pa.int64()),
    ]
)
HISTORY_ARROW = pa.schema([("date", pa.date32()), ("sector", pa.string()), ("calc_price", pa.float64())])


def _prices_table(pdf: pd.DataFrame) -> pa.Table:
    cols = {"date": pa.array(pdf["date"], pa.date32()), "ticker": pa.array(pdf["ticker"])}
    for c in ("open", "high", "low", "close"):
        cols[c] = pa.array([f"{v:.2f}" for v in pdf[c]]).cast(_DEC)
    cols["volume"] = pa.array(pdf["volume"], pa.int64())
    return pa.table(cols, schema=PRICES_ARROW)


def _dir_bytes_files(path: Path) -> tuple[int, int]:
    files = list(path.rglob("*.parquet"))
    return sum(p.stat().st_size for p in files), len(files)


class DailyPipeline(Workload):
    """One operation is one market day: ``run_daily_pipeline`` on the
    day's batch, ``publish_version`` of the prices and sector-history
    state, ``compact_parquet_table`` of the prices every
    ``compact_every``-th day, then ``read_version`` of the history and
    the two chart frames. Every pass starts again from the same seed
    state.

    The sizes are the reference's own traffic (SURVEY.md §6, data
    scale): 11 sectors of 25 to 65 tickers each, about 500 tickers, and
    148 to 182 days of daily history per committed table."""

    per_sector = list(range(25, 66, 4))  # 25, 29, ..., 65: 495 tickers
    history_days = 180
    days_per_pass = 2
    compact_every = 2
    pct_days = 20

    def prepare(self) -> None:
        self.sizes = {
            "tickers": sum(self.per_sector),
            "tickers_per_sector": self.per_sector,
            "history_days": self.history_days,
            "days_per_pass": self.days_per_pass,
            "compact_every": self.compact_every,
        }
        self.stats: dict[str, float] = defaultdict(float)
        self.last_pass = 0
        self.root = self.work / "daily"
        self.market = self._write_market()

    def _write_market(self) -> dict:
        history, new = self.history_days, self.days_per_pass
        m = datagen.daily_market(self.seed, self.per_sector, history, new)
        root = self.root
        days = m["days"]
        prices = m["prices"]
        root.mkdir(parents=True, exist_ok=True)
        seed_state = root / "seed"
        (seed_state / "prices" / "v1").mkdir(parents=True)
        (seed_state / "history" / "v1").mkdir(parents=True)
        pq.write_table(
            _prices_table(prices[prices["date"] < days[history]]),
            seed_state / "prices" / "v1" / "part-0.parquet",
        )
        pq.write_table(HISTORY_ARROW.empty_table(), seed_state / "history" / "v1" / "part-0.parquet")
        for t in ("prices", "history"):
            (seed_state / t / "_LATEST").write_text("1")
        for i in range(new):
            # the day's batch plus the previous day again: the overlap
            # must be dropped by the idempotent append
            batch = prices[prices["date"].isin(days[history + i - 1 : history + i + 1])]
            pq.write_table(_prices_table(batch), root / f"incoming_{i}.parquet")
        pq.write_table(
            pa.Table.from_pandas(m["holdings"], preserve_index=False).cast(
                pa.schema(
                    [
                        ("date", pa.date32()),
                        ("sector", pa.string()),
                        ("ticker", pa.string()),
                        ("weight", pa.float64()),
                        ("shares_held", pa.int64()),
                    ]
                )
            ),
            root / "holdings.parquet",
        )
        pq.write_table(
            pa.Table.from_pandas(m["shares_outstanding"], preserve_index=False).cast(
                pa.schema(
                    [("date", pa.date32()), ("sector", pa.string()), ("shares_outstanding", pa.int64())]
                )
            ),
            root / "shares_outstanding.parquet",
        )
        pq.write_table(
            pa.table({"date": pa.array(m["market_days"]["date"], pa.date32())}),
            root / "market_days.parquet",
        )
        return m

    # -- per pass state -----------------------------------------------------

    def _state(self, k: int) -> Path:
        return self.root / f"pass{k}"

    def before_pass(self, k: int) -> None:
        if k > 0:
            shutil.rmtree(self._state(k - 1), ignore_errors=True)
        shutil.copytree(self.root / "seed", self._state(k))
        self.stats = defaultdict(float)
        self.last_pass = k

    def _ops(self, state: Path, label: str) -> list[Op]:
        return [
            Op(f"{label}_{i}", self._day_op(state, i, (i + 1) % self.compact_every == 0))
            for i in range(self.days_per_pass)
        ]

    def warm_ops(self) -> list[Op]:
        shutil.copytree(self.root / "seed", self.root / "warm")
        return self._ops(self.root / "warm", "warm_day")

    def pass_ops(self, k: int) -> list[Op]:
        return self._ops(self._state(k), "day")

    def _day_op(self, state: Path, i: int, compact: bool):
        from stock_data_pipeline_spark import io as sio
        from stock_data_pipeline_spark.pipeline.etl import run_daily_pipeline
        from stock_data_pipeline_spark.pipeline.presentation import (
            percent_change_frame,
            sector_price_levels,
        )

        root = self.root
        prices_dir, hist_dir = str(state / "prices"), str(state / "history")
        tickers = self.market["tickers"]

        def publish(layers: Layers, df, table_dir: str) -> None:
            with layers.io("publish_version"):
                n = sio.publish_version(df, table_dir)
            self._count(Path(table_dir) / f"v{n}", "written")

        def run(layers: Layers):
            spark = layers.spark
            with layers.build("io.read_version"):
                prices_state = sio.read_version(spark, prices_dir)
                hist_state = sio.read_version(spark, hist_dir)
            with layers.build("pipeline"):
                read = spark.read.parquet
                res = run_daily_pipeline(
                    prices_state,
                    read(str(root / f"incoming_{i}.parquet")),
                    read(str(root / "holdings.parquet")),
                    read(str(root / "shares_outstanding.parquet")),
                    hist_state,
                    read(str(root / "market_days.parquet")),
                    tickers=tickers,
                )
            publish(layers, res.prices, prices_dir)
            publish(layers, res.sector_history, hist_dir)
            if compact:
                with layers.io("compact_parquet_table"):
                    latest = sio.list_versions(spark, prices_dir)[-1]
                    dst = f"{prices_dir}/v{latest + 1}"
                    sio.compact_parquet_table(spark, f"{prices_dir}/v{latest}", dst)
                    sio.set_latest_version(spark, prices_dir, latest + 1)
                self._count(Path(dst), "rewritten")
            with layers.build("io.read_version"):
                hist = sio.read_version(spark, hist_dir)
            with layers.build("pipeline"):
                levels = sector_price_levels(hist)
                pct = percent_change_frame(hist, self.pct_days)
            layers.sink(levels, pct)
            return [res.prices, res.sector_history, levels, pct]

        return run

    def _count(self, path: Path, kind: str) -> None:
        nbytes, nfiles = _dir_bytes_files(path)
        self.stats[f"io.bytes_{kind}"] += nbytes
        if kind == "written":
            self.stats["io.files_written"] += nfiles

    def io_stats(self) -> dict[str, float]:
        """Bytes and files of the last pass, plus stored bytes per live
        state row of its final versions."""
        state = self._state(self.last_pass)
        stored = 0
        for t in ("prices", "history"):
            latest = (state / t / "_LATEST").read_text().strip()
            stored += _dir_bytes_files(state / t / f"v{latest}")[0]
        rows = self._expected_rows()
        return {
            "io.bytes_written": self.stats["io.bytes_written"],
            "io.files_written": self.stats["io.files_written"],
            "io.bytes_rewritten": self.stats["io.bytes_rewritten"],
            "io.bytes_per_row": stored / (rows["prices"] + rows["history"]),
        }

    # -- output check -------------------------------------------------------

    def _expected(self) -> pd.DataFrame:
        """Σ close × shares_held / shares_outstanding per (date, sector),
        over every day the pass ingested, in pandas."""
        m = self.market
        j = m["prices"].merge(m["holdings"], on=["date", "ticker"])
        j["mcap"] = j["close"].map(lambda v: round(v * 100)) * j["shares_held"]
        g = j.groupby(["date", "sector"], as_index=False)["mcap"].sum()
        g = g.merge(m["shares_outstanding"], on=["date", "sector"])
        g["calc_price"] = g["mcap"] / 100 / g["shares_outstanding"]
        return g[["date", "sector", "calc_price"]]

    def _expected_rows(self) -> dict[str, int]:
        n_days = self.history_days + self.days_per_pass
        return {"prices": n_days * sum(self.per_sector), "history": n_days * len(datagen.SECTORS)}

    def check(self, spark, frames: dict[str, list]) -> list[str]:
        from stock_data_pipeline_spark import io as sio

        state = self._state(self.last_pass)
        labels = [o.label for o in self.pass_ops(self.last_pass)]
        try:
            got = sio.read_version(spark, str(state / "history")).toPandas()
            n_prices = sio.read_version(spark, str(state / "prices")).count()
        except Exception as exc:
            print(f"check failed: daily_pipeline: {exc!s:.200}")
            return labels
        exp = self._expected()
        got["calc_price"] = got["calc_price"].astype(float)
        both = exp.merge(got, on=["date", "sector"], how="outer", suffixes=("_exp", "_got"))
        ok = (
            len(got) == len(exp) == len(both)
            and n_prices == self._expected_rows()["prices"]
            # Spark divides decimals to 6 places
            and np.allclose(both["calc_price_got"], both["calc_price_exp"], rtol=0.0, atol=1e-6)
        )
        if not ok:
            print(f"check failed: daily_pipeline: {len(got)} rows vs {len(exp)} expected")
            return labels
        return []


WORKLOADS = {"daily_pipeline": DailyPipeline, "llm_dedup": LlmDedup}


def make(name: str, seed: int, work: Path) -> Workload:
    return WORKLOADS[name](seed=seed, work=work)
