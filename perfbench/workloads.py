"""The benchmark's workloads.  Each one builds its inputs from the seed
(``prepare``, which needs no Spark and runs while the session starts),
warms up (``setup``), and then runs ops: ``run`` is the timed part of an
op and ``check`` verifies its output afterwards, untimed."""

from __future__ import annotations

import contextlib
import random
import shutil
import sys
import time
from functools import reduce
from pathlib import Path

import bsongen
import duckdb
import tablegen

from ght2dm_spark.io import TABLES, load_table
from ght2dm_spark.queries import ORACLE, QUERIES


def run_full(df) -> int:
    """Execute a query DataFrame completely and return its row count:
    a noop-sink write observed by a row counter, so every projected
    column is computed and nothing is shipped to the driver."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
    return int(obs.get["n"])


@contextlib.contextmanager
def timed(info: dict[str, float], name: str):
    """Record the seconds of a set-up step in ``info`` and report them."""
    t = time.perf_counter()
    yield
    info[name] = time.perf_counter() - t
    print(f"# set-up {name}: {info[name]:.2f} s", file=sys.stderr)


class Workload:
    name = ""
    #: passes the measurement runs at the least, whatever ``--seconds`` says
    min_passes = 1
    #: the op is the first one in the session, as a production run meets
    #: it: no warm-up, and an untraced run measures exactly one op
    cold = False

    def __init__(self, work: Path, seed: int, tracer) -> None:
        self.work, self.seed, self.tracer = work, seed, tracer
        self.spark = None
        self.info: dict[str, float] = {}

    def prepare(self) -> None:
        """Inputs and expected outputs from the seed, without Spark."""
        raise NotImplementedError

    def setup(self) -> None:
        """Spark-side set-up and warm-up, once :attr:`spark` is set."""
        raise NotImplementedError

    def passes(self):
        """Yield lists of op keys, one list per pass."""
        raise NotImplementedError

    def run(self, key):
        raise NotImplementedError

    def check(self, key, result) -> bool:
        raise NotImplementedError

    def records(self, key) -> int:
        """Input records of the op, fixed by the inputs, not by the plan."""
        raise NotImplementedError

    def layers(self, key, counters: dict[str, float]) -> dict[str, float]:
        """Workload-specific per-layer values of a traced op, read
        before :meth:`after` cleans up."""
        return {}

    def after(self, key) -> None:
        """Untimed clean-up between ops."""


class EtlFresh(Workload):
    """A fresh ``run_from_config`` of a whole synthetic GHTorrent tree
    into an empty output directory, as the first import of a new
    session: an import runs as a batch job of its own in production, so
    it pays for the session's first Spark jobs, code generation and JIT
    compilation every time."""

    name = "etl_fresh"
    cold = True
    size = bsongen.TreeSize(users=5000, orgs=250, repos=5000, members=2500, collabs=5000, dumps=4)

    def prepare(self) -> None:
        with timed(self.info, "inputs"):
            dumps = bsongen.TreeGenerator(self.seed, self.size).base_tree()
            tree = self.work / "tree"
            self.info["input_bytes"] = bsongen.write_dumps(tree, dumps)
            self.info["input_docs"] = bsongen.doc_count(dumps)
            self.expected = bsongen.expected_counts(dumps)
        self.folders = [str(tree / e) for e in bsongen.ENTITIES]

    def setup(self) -> None:
        """No warm-up: the measured op is the session's first import."""

    def passes(self):
        i = 0
        while True:
            yield [i]
            i += 1

    def _out(self, key) -> Path:
        return self.work / f"out-{key}"

    def run(self, key):
        from ght2dm_spark.config import RunConfig, run_from_config

        out = self._out(key)
        run_from_config(self.spark, RunConfig(folders=self.folders, output_dir=str(out)))
        return out

    def check(self, key, out) -> bool:
        """Row counts of the seven output tables against the model, and
        surrogate keys that are exactly 1..n (unique, continuing)."""
        from pyspark.sql import DataFrame
        from pyspark.sql import functions as F

        from ght2dm_spark.snapshots import read_snapshot

        aggs = []
        for t in bsongen.OUTPUT_TABLES:
            df = read_snapshot(self.spark, str(out / t))
            if df is None:
                return False
            keyed = t in bsongen.KEYED_TABLES
            key_cols = ["id"] if keyed else df.columns[:2]
            aggs.append(
                df.agg(
                    F.lit(t).alias("t"),
                    F.count(F.lit(1)).alias("n"),
                    F.count_distinct(*key_cols).alias("k"),
                    (F.min("id") if keyed else F.lit(1).cast("long")).alias("lo"),
                    (F.max("id") if keyed else F.count(F.lit(1))).alias("hi"),
                )
            )
        rows = reduce(DataFrame.unionByName, aggs).collect()
        got = {r["t"]: r for r in rows}
        ok = True
        for t, n in self.expected.items():
            r = got[t]
            if not (r["n"] == n and r["k"] == n and (n == 0 or (r["lo"] == 1 and r["hi"] == n))):
                print(f"# {self.name} {key}: {t} rows={r['n']} distinct={r['k']} "
                      f"keys={r['lo']}..{r['hi']}, expected {n}", file=sys.stderr)
                ok = False
        return ok

    def records(self, key) -> int:
        return int(self.info["input_docs"])

    def layers(self, key, counters: dict[str, float]) -> dict[str, float]:
        from probes import tree_bytes

        src = self.info["input_bytes"]
        kept = sum(self.expected[t] for t in (
            "users", "gh_organizations", "repositories",
            "gh_users_organizations", "users_repositories"))
        good = counters.get("sources.docs_decoded", 0) - counters.get("sources.rejects", 0)
        return {
            "snapshots.bytes_stored_per_input_byte": tree_bytes(self._out(key)) / src,
            "snapshots.write_amplification": counters["snapshots.bytes_written"] / src,
            "pipelines.survivor_ratio": kept / good if good else 0.0,
        }

    def after(self, key) -> None:
        # an import runs as its own process in production: drop what it
        # left cached in this session before the next one starts
        self.spark.catalog.clearCache()
        shutil.rmtree(self._out(key), ignore_errors=True)


#: read-only registered queries: TPC-H joins, the T0 dedup and lookup
#: queries, MinHash, ANN, text, temporal, graph, sketch, audio.  One of
#: each kind, 0.5-2.2 s each at sf0.1 on 4 cores, with DuckDB oracles
#: under 0.6 s: a run (set-up, two warm-up passes, measured pass) has to
#: stay near a minute.  The latencies fall into three clusters (about
#: 0.6 s, 1.1 s and 2 s); with an odd count and the middle cluster holding
#: the median, the median op does not jump between clusters from run to run.
QUERY_MIX = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "t0_newest_wins_dedup",
    "t0_broadcast_lookup",
    "t1_minhash_signature",
    "t1_ann_bruteforce_topk",
    "t1_text_quality",
    "t1_session_window",
    "t1_graph_reciprocity",
    "t1_kmv_sketch",
    "t1_audio_fingerprint",
)


def query_family(name: str) -> str:
    """Module of ``ght2dm_spark.queries`` that defines the query."""
    return QUERIES[name].__module__.rsplit(".", 1)[-1]


class QueryMix(Workload):
    """The registered read-only queries at sf0.1, in a seeded order on
    each pass; every op is one query: build, then execute completely."""

    name = "query_mix"
    sf = 0.1
    #: the first pass over the mix in a session is two to three times as
    #: slow as a warm one, and the second still 10-30% slower than the
    #: third (JIT compilation): two passes warm up
    warmup_passes = 2

    def prepare(self) -> None:
        self.dir = self.work / f"sf{self.sf}"
        with timed(self.info, "inputs"):
            self.table_rows = tablegen.generate(self.dir, self.sf, self.seed)
        self.info["input_rows"] = sum(self.table_rows.values())
        self.info["input_bytes"] = sum(p.stat().st_size for p in self.dir.glob("*.parquet"))
        with timed(self.info, "oracle"):
            self.expected = self._oracle_counts()
        print(f"# set-up input rows per query: {self.input_rows}", file=sys.stderr)

    def setup(self) -> None:
        with timed(self.info, "io.load_table_s"):
            for name in TABLES:
                load_table(self.spark, str(self.dir), name)
        with timed(self.info, "warmup"):
            for i in range(self.warmup_passes):
                for name in QUERY_MIX:
                    t = time.perf_counter()
                    n = self.run(name)
                    print(f"# warm-up {i} {name}: {time.perf_counter() - t:.3f} s", file=sys.stderr)
                    if not self.check(name, n):
                        print(f"# {self.name}: warm-up {name} output mismatch", file=sys.stderr)

    def _oracle_counts(self) -> dict[str, int]:
        from ght2dm_spark.session import default_parallelism

        con = duckdb.connect()
        try:
            con.execute(f"SET threads TO {default_parallelism()}")
            con.execute(f"SET temp_directory = '{self.work / 'duckdb'}'")
            # input rows of a query: all rows of the tables its oracle
            # reads, whatever the Spark plan skips, caches or reuses.  Asked
            # before the views exist: DuckDB does not name tables behind views.
            self.input_rows = {
                n: sum(self.table_rows[t] for t in con.get_table_names(ORACLE[n]))
                for n in QUERY_MIX}
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.dir / t}.parquet')")
            return {n: con.execute(f"SELECT count(*) FROM ({ORACLE[n]})").fetchone()[0]
                    for n in QUERY_MIX}
        finally:
            con.close()

    def passes(self):
        rng = random.Random(self.seed)
        while True:
            order = list(QUERY_MIX)
            rng.shuffle(order)
            yield order

    def run(self, name):
        with self.tracer.span("queries.build", query=name) as span:
            df = QUERIES[name](self.spark, str(self.dir))
        if span is not None:
            # analysis runs when the DataFrame is built; the execution's
            # own Catalyst phases reach the traced run's query listener
            phase = df._jdf.queryExecution().tracker().phases().get("analysis")
            span.attrs["analysis_ms"] = phase.get().durationMs() if phase.isDefined() else 0
        with self.tracer.span("queries.exec", query=name):
            return run_full(df)

    def records(self, name) -> int:
        return self.input_rows[name]

    def check(self, name, n) -> bool:
        if n != self.expected[name]:
            print(f"# {self.name}: {name} returned {n} rows, oracle {self.expected[name]}",
                  file=sys.stderr)
            return False
        return True


WORKLOADS = {w.name: w for w in (EtlFresh, QueryMix)}
