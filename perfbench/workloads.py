"""The benchmark workloads.

Each workload generates its inputs once (``prepare``), then runs closed
loop passes (``run_pass``): one client, and the next pass starts when
the previous one has committed. A pass reports the wall time of three
phases and the outcome of each operation, checked against the
generator's ground truth outside the timed region.

Phase meaning per workload (the end-to-end ``phase*_cpu_s`` metrics):

===========  =============  ==================================  ==============================
workload     phase1         phase2                              phase3
===========  =============  ==================================  ==============================
migrate_cdc  full_migrate   compare_tables, clean then damaged  CDC apply, live image, compact
corpus_ops   2 dedup ops    bpe_pack_sequences                  cms_heavy_hitters
===========  =============  ==================================  ==============================
"""

from __future__ import annotations

import glob
import math
import os
import shutil
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import gen


@dataclass
class PassResult:
    phases: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: dict[str, str] = field(default_factory=dict)  # operation -> why
    op_s: dict[str, float] = field(default_factory=dict)  # operation -> wall time
    cpu: dict[str, float] = field(default_factory=dict)  # phase -> CPU seconds of the process tree
    info: dict = field(default_factory=dict)


def proc_stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat from the state on (field 3 is index 0),
    or None once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, CPU ticks incl. reaped children)."""
    table = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        fields = proc_stat(int(pid))
        if fields is not None:  # else it exited while we looked
            table[int(pid)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))  # utime stime cutime cstime
    return table


def descendants(root: int, table: dict | None = None) -> list[int]:
    """``root`` and every live process below it."""
    table = table or _proc_table()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(c for c, (ppid, _) in table.items() if ppid == pid)
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every descendant:
    the JVM, its Python workers, and children already reaped. Unlike
    wall time it does not grow with time the host steals from us."""
    table = _proc_table()
    ticks = sum(table[pid][1] for pid in descendants(os.getpid(), table) if pid in table)
    return ticks / os.sysconf("SC_CLK_TCK")


def _parquet_rows(path: str) -> int:
    """Row count of a parquet file or directory, from footers only."""
    files = [path] if os.path.isfile(path) else glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


class Workload:
    """Shared pass plumbing: timed operations that never abort the run."""

    name = ""

    def __init__(self, spark, work: str, seed: int, tracer, corrupt: bool):
        self.spark = spark
        self.work = work
        self.rng = np.random.default_rng(seed)
        self.tracer = tracer
        self.corrupt = corrupt
        self.props: dict = {}

    def timed(self, res: PassResult, phase: str, name: str, fn):
        """Run operation ``name`` under its own span and add its wall
        time to ``phase``. Returns fn's value, or None when it raised
        (the operation then counts as failed)."""
        res.attempted += 1
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with self.tracer.region(name):
                out = fn()
        except Exception as e:  # an engine failure is a measured outcome
            traceback.print_exc()
            res.failed[name] = f"raised {type(e).__name__}: {e}"[:300]
            out = None
        dt = time.perf_counter() - t0
        res.cpu[phase] = res.cpu.get(phase, 0.0) + tree_cpu_s() - c0
        res.phases[phase] = res.phases.get(phase, 0.0) + dt
        res.op_s[name] = dt
        return out

    @staticmethod
    def check(res: PassResult, name: str, ok: bool, detail: str) -> None:
        """Record a failed output check against operation ``name``."""
        if not ok:
            res.failed.setdefault(name, detail)


# --------------------------------------------------------------- migrate_cdc

MIGRATE_SF = 0.01
COMPARE_TABLE = "lineitem"
DAMAGED_CHUNKS = 3
CDC_DROPS = 3  # plus one re-delivered drop
CDC_ROWS_PER_DROP = 4000
CDC_UPDATE_SHARE = 0.3


class MigrateCdc(Workload):
    """The CLI's full -> compare -> all sequence over one workdir."""

    name = "migrate_cdc"

    def prepare(self) -> dict:
        self.src_dir = os.path.join(self.work, "tpch")
        self.damaged_dir = os.path.join(self.work, "damaged")
        self.drops_dir = os.path.join(self.work, "drops")
        tp = gen.gen_tpch(self.src_dir, self.rng, MIGRATE_SF)
        self.rows = tp["rows"]
        self.damage = gen.gen_damage(
            os.path.join(self.damaged_dir, f"{COMPARE_TABLE}.parquet"),
            self.rng, tp["tables"][COMPARE_TABLE], "l_orderkey", DAMAGED_CHUNKS,
        )
        self.cdc = gen.gen_cdc(self.drops_dir, self.rng, CDC_DROPS, CDC_ROWS_PER_DROP, CDC_UPDATE_SHARE)
        self.expected = self.cdc.pop("expected")
        self.props = {
            "migrate_rows": self.rows,
            "migrate_bytes": sum(tp["bytes"].values()),
            "damage": self.damage,
            "cdc": self.cdc,
        }
        return self.props

    def run_pass(self, i: int) -> PassResult:
        from transferdb_spark.modes.compare_mode import compare_tables
        from transferdb_spark.modes.full import full_migrate
        from transferdb_spark.sources.registry import load_table

        res = PassResult()
        wd = os.path.join(self.work, f"pass{i}")

        # phase 1: land every table
        targets = self.timed(
            res, "phase1", "full_migrate", lambda: full_migrate(self.spark, self.src_dir, wd, n_chunks=gen.N_CHUNKS)
        )
        if targets is not None:
            if self.corrupt:
                os.remove(sorted(glob.glob(os.path.join(targets[COMPARE_TABLE], "*.parquet")))[0])
            landed = {t: _parquet_rows(p) for t, p in targets.items()}
            self.check(res, "full_migrate", landed == self.rows, f"landed {landed} != source {self.rows}")

        # phase 2: verify the clean target (phase 1 of compare only), then
        # repair a damaged one (phase 2 of compare writes fix-SQL)
        t = COMPARE_TABLE
        if targets is not None:
            r = self.timed(
                res, "phase2", "compare_clean",
                lambda: compare_tables(
                    self.spark, load_table(self.spark, self.src_dir, t), self.spark.read.parquet(targets[t]),
                    t, os.path.join(wd, "compare_clean"), n_chunks=gen.N_CHUNKS,
                ),
            )
            if r is not None:
                self.check(res, "compare_clean", r.is_equal, f"clean target: mismatched chunks {r.mismatched_chunks}")
        r = self.timed(
            res, "phase2", "compare_damaged",
            lambda: compare_tables(
                self.spark, load_table(self.spark, self.src_dir, t), load_table(self.spark, self.damaged_dir, t),
                t, os.path.join(wd, "compare_damaged"), n_chunks=gen.N_CHUNKS,
            ),
        )
        if r is not None:
            kinds = {"INSERT": 0, "DELETE": 0}
            with open(r.fix_sql_path) as fh:
                for line in fh:
                    head = line.split(" ", 1)[0]
                    if head in kinds:
                        kinds[head] += 1
            d = self.damage
            want = (d["expect_insert"], d["expect_delete"])
            self.check(
                res, "compare_damaged",
                (r.insert_rows, r.delete_rows) == want == (kinds["INSERT"], kinds["DELETE"])
                and r.mismatched_chunks == d["damaged_chunks"],
                f"report ({r.insert_rows}, {r.delete_rows}), file ({kinds['INSERT']}, {kinds['DELETE']}), "
                f"chunks {r.mismatched_chunks}; injected {want} in chunks {d['damaged_chunks']}",
            )

        # phase 3: replicate the change feed, read the live image, compact
        self._cdc(res, wd)
        shutil.rmtree(wd, ignore_errors=True)
        return res

    def _cdc(self, res: PassResult, wd: str) -> None:
        from transferdb_spark.streaming.incr import (
            apply_cdc_stream,
            cdc_current_state,
            compact_cdc_log,
            stream_events,
        )

        target, ckpt = os.path.join(wd, "cdc_target"), os.path.join(wd, "cdc_ckpt")

        def stream():
            q = apply_cdc_stream(
                stream_events(self.spark, self.drops_dir, max_files_per_trigger=1),
                target, ckpt, key="user_id", scn_col="event_id",
            )
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            return q

        q = self.timed(res, "phase3", "apply_cdc_stream", stream)
        if q is None:
            return
        progress = [p for p in q.recentProgress if p.numInputRows > 0]
        res.info["batch_s"] = [p.durationMs["triggerExecution"] / 1000 for p in progress]
        landed = {
            int(d.split("=", 1)[1]): _parquet_rows(os.path.join(target, d))
            for d in os.listdir(target)
            if d.startswith("batch_id=")
        }
        self.tracer.stream_progress(q, progress, self.cdc["changes"], sum(landed.values()))
        want_landed = self.cdc["changes"] - CDC_ROWS_PER_DROP
        self.check(
            res, "apply_cdc_stream",
            len(progress) == self.cdc["drops"] and landed.get(self.cdc["replay_batch"], -1) == 0
            and sum(landed.values()) == want_landed,
            f"{len(progress)} batches, landed per batch {landed}; want {self.cdc['drops']} "
            f"batches, 0 rows in replay batch {self.cdc['replay_batch']}, {want_landed} rows",
        )

        state = self.timed(
            res, "phase3", "cdc_current_state",
            lambda: cdc_current_state(self.spark, target, key="user_id", scn_col="event_id")
            .select("user_id", "event_id").toPandas(),
        )
        if state is not None:
            image = dict(zip(state["user_id"].tolist(), state["event_id"].tolist()))
            self.check(
                res, "cdc_current_state", image == self.expected,
                f"{len(image)} live keys, {sum(image.get(k) != v for k, v in self.expected.items())} "
                f"differ from the {len(self.expected)} expected",
            )

        c = self.timed(
            res, "phase3", "compact_cdc_log",
            lambda: compact_cdc_log(self.spark, target, key="user_id", scn_col="event_id"),
        )
        if c is not None:
            self.check(
                res, "compact_cdc_log",
                c["live_rows"] == len(self.expected) and c["dirs_removed"] == self.cdc["drops"],
                f"compaction returned {c}; want {len(self.expected)} live rows from {self.cdc['drops']} dirs",
            )

    def headline(self, passes: list[PassResult]) -> dict:
        """The workload's own figures, by their user-facing names."""
        batches = [b for p in passes for b in p.info.get("batch_s", [])]
        return {
            "migrate_rows_per_s": (rate(sum(self.rows.values()), passes, "full_migrate"), "rows/s"),
            "verify_rows_per_s": (rate(self.rows[COMPARE_TABLE], passes, "compare_clean"), "rows/s"),
            "repair_s": (op_median(passes, "compare_damaged"), "s"),
            "cdc_changes_per_s": (rate(self.cdc["changes"], passes, "apply_cdc_stream"), "changes/s"),
            "cdc_batch_p50_s": (quantile(batches, 0.5), "s"),
            "cdc_batch_p90_s": (quantile(batches, 0.9), "s"),
            "cdc_batches_pooled": (len(batches), "count"),
        }


# ---------------------------------------------------------------- corpus_ops

CORPUS_DOCS = 400
CORPUS_DUP_SHARE = 0.25
CORPUS_PERTURB = 0.3
CORPUS_SUFFIXES = 150
DEDUP_OPS = ("dedup_ngram_jaccard", "dedup_span_keep_one")
TOKENIZE_OPS = ("bpe_pack_sequences",)
STATS_OPS = ("cms_heavy_hitters",)
CORPUS_PHASES = (("phase1", DEDUP_OPS), ("phase2", TOKENIZE_OPS), ("phase3", STATS_OPS))


class CorpusOps(Workload):
    name = "corpus_ops"

    def prepare(self) -> dict:
        self.docs_dir = os.path.join(self.work, "corpus")
        self.props = gen.gen_corpus(
            self.docs_dir, self.rng, CORPUS_DOCS, CORPUS_DUP_SHARE, CORPUS_PERTURB, CORPUS_SUFFIXES
        )
        self.first_sig: dict[str, tuple] = {}
        return self.props

    def oracle_signatures(self) -> dict[str, tuple]:
        """DuckDB twins of the oracled ops over the same generated file."""
        import duckdb

        import __spark_entry__ as entry
        from check_correctness import frame_signature

        sqls = entry.oracle_sql()
        con = duckdb.connect()
        try:
            con.execute("SET memory_limit = '1GB'")
            con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
            con.execute(f"SET temp_directory = '{os.path.join(self.work, 'duckdb')}'")
            path = os.path.join(self.docs_dir, "documents.parquet")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
            return {
                name: frame_signature(con.execute(sqls[name]).fetchdf())
                for _, ops in CORPUS_PHASES
                for name in ops
                if name in sqls
            }
        finally:
            con.close()

    def run_pass(self, i: int) -> PassResult:
        import __spark_entry__ as entry
        from check_correctness import frame_signature

        queries = entry.queries()
        res = PassResult()
        sigs = {}
        for phase, ops in CORPUS_PHASES:
            for name in ops:
                pdf = self.timed(
                    res, phase, f"ext.{name}", lambda name=name: queries[name](self.spark, self.docs_dir).toPandas()
                )
                if pdf is None:
                    continue
                if self.corrupt and name == "cms_heavy_hitters":
                    pdf = pdf.iloc[1:]
                sigs[name] = frame_signature(pdf)
                if name == "bpe_pack_sequences":
                    self._check_packing(res, pdf)
        if i == 0:
            # once per run: every op with a DuckDB twin against it
            self.first_sig = sigs
            for name, sig in self.oracle_signatures().items():
                if name in sigs:
                    self.check(res, f"ext.{name}", sigs[name] == sig, f"spark {sigs[name]} != duckdb {sig}")
        else:
            for name, sig in sigs.items():
                self.check(
                    res, f"ext.{name}", sig == self.first_sig.get(name),
                    f"pass {i} output {sig} != first pass {self.first_sig.get(name)}",
                )
        return res

    def _check_packing(self, res: PassResult, bins) -> None:
        """bpe_pack_sequences has no SQL twin: check the packing contract.
        Bins are numbered 0..B-1, every bin but the last holds exactly
        the 512-token budget, every document lands in at least one piece,
        and byte-level BPE never emits more tokens than input bytes."""
        bins = bins.sort_values("bin_id")
        sizes = bins["n_tokens"].tolist()
        ok = (
            bins["bin_id"].tolist() == list(range(len(bins)))
            and all(n == 512 for n in sizes[:-1]) and 0 < sizes[-1] <= 512
            and int(bins["n_pieces"].sum()) >= self.props["rows"]
            and sum(sizes) <= self.props["text_bytes"]
        )
        self.check(res, "ext.bpe_pack_sequences", ok, f"{len(bins)} bins break the packing contract")

    def headline(self, passes: list[PassResult]) -> dict:
        return {
            "corpus_dedup_s": (phase_median(passes, "phase1"), "s"),
            "corpus_tokenize_s": (phase_median(passes, "phase2"), "s"),
            "corpus_stats_s": (phase_median(passes, "phase3"), "s"),
        }


WORKLOADS = {w.name: w for w in (MigrateCdc, CorpusOps)}


def phase_median(passes: list[PassResult], phase: str) -> float:
    return median([p.phases.get(phase, 0.0) for p in passes])


def op_median(passes: list[PassResult], op: str) -> float:
    return median([p.op_s.get(op, 0.0) for p in passes])


def rate(work: int, passes: list[PassResult], op: str) -> float:
    t = op_median(passes, op)
    return work / t if t else 0.0


def median(xs: list[float]) -> float:
    return quantile(xs, 0.5)


def quantile(xs: list[float], q: float) -> float:
    """Nearest-rank quantile (0.0 when ``xs`` is empty)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    return xs[min(len(xs) - 1, max(0, math.ceil(q * len(xs)) - 1))]
