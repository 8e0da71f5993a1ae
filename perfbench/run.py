"""Benchmark of the groonga_spark engine: `query` and `churn` workloads.

Run from the repository root:

    python3 perfbench/run.py --workload query --seed 1 --seconds 10 --trace 0

One Python process starts Spark at ``local[<nproc>]``, every core this
process may use, and drives the engine through its public entry points
only: ``build_index``, ``SearchEngine.select`` / ``select_batch`` and
``index.blockrows`` (``write_index_block_rows``, ``commit_update``,
``read_index_block_rows``, ``compact``).  Inputs come from ``--seed`` alone.

* ``query`` -- set-up builds the index of a seeded 1000-doc code corpus
  twice (``setup_s`` is their median) and keeps the last one in
  Spark's cache.  One client sends an untimed round of a single-term and a
  NEAR query, then timed rounds of the same two: at least three, until
  ``--seconds`` have passed, and an odd number of them, so that each
  median is one measured sample and a single slow round does not move it.
  The traced run then sends the rest of the query set (AND, a rare
  literal, phrase, OR, NOT, prefix and phrase-AND-term; terms drawn from df
  bands of the corpus) once each through ``select``, and the whole set once
  through ``select_batch``.
* ``churn`` -- set-up builds the index once and writes it in the block-rows
  layout on disk (``setup_s`` is the two together).  Until ``--seconds``
  have passed: commit a seeded 0.1% upsert slice with
  ``mode="append_only"``, reopen the index and time the reopen together
  with the first read after it, a NEAR query over the tombstone-masked
  blocks.  The traced run then compacts and reads once more.

The seven other query kinds, batch and compact run in the traced run only:
each Spark op costs 4-25 s of fixed overhead, and a run's budget does not
hold them beside the timed window.

Every answer is compared with ``oracle/pyoracle.py`` (same doc ids, scores
within 1e-9), ``select_batch`` rows with ``select`` rows, and index counts
with the oracle's.  A mismatch or a failed op counts in ``failed``.

The last stdout line is the result: with ``--trace 0`` the end-to-end
metrics of ``metrics.E2E``; with ``--trace 1`` Spark's event log is enabled
and folded (``eventlog.py``) into the per-layer metrics of
``metrics.PER_LAYER``.  The line before it is a report with every figure,
the end-to-end figures that are not bounded (``metrics.REPORTED``) and the
run's provenance.  Working data lives in ``.perfbench_work`` and is removed
on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import shutil
import signal
import statistics
import sys
import time
import traceback
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, ROOT)

import metrics as M  # noqa: E402  (perfbench/ is sys.path[0])
from eventlog import fold_file  # noqa: E402

from groonga_spark import SearchEngine, build_index  # noqa: E402
from groonga_spark.corpus import PLANTED, doc_row  # noqa: E402
from groonga_spark.index import blockrows  # noqa: E402
from groonga_spark.query.parser import parse_query_ex  # noqa: E402
from groonga_spark.session import get_spark  # noqa: E402
from groonga_spark.tokenize import tokenize_batch  # noqa: E402
from oracle.pyoracle import OracleEngine, OracleIndex  # noqa: E402

N_DOCS = 1000
SLICE_DOCS = max(1, N_DOCS // 1000)  # 0.1% upsert slices
K = 10
# set-ups per run; setup_s is their median, with two builds the mean of the
# JVM's cold first one and a warm one.  A third query build or a second
# churn set-up (which also writes the index to disk, ~10 s more) would push
# a full set of runs of both workloads past its time limit
SETUP_REPS = {"query": 2, "churn": 1}
TOKENIZER = "code"
DRIVER_MEM = "3g"
SCORE_TOL = 1e-9
TIME_LIMIT_S = 175
SCHEMA = "doc_id long, repo string, path string, commit string, lang string, content string"
POSITIONAL = {"phrase", "near", "mixed"}  # decode split
POS_P50 = {"phrase", "near"}  # pos_query_p50_ms
CHURN_READ = "near"  # the first read after each reopen
# the query window sends whole rounds of the first ROUND query kinds, an odd
# number of them and at least MIN_ROUNDS, so that every run answers the same
# kinds equally often and its medians do not depend on where the clock stopped
ROUND = 2
MIN_ROUNDS = 3


# -- inputs ---------------------------------------------------------------


def make_corpus(seed: int, n: int) -> list[tuple]:
    """Rows ``(doc_id, repo, path, commit, lang, content)`` of the seeded
    ``corpus`` generator, doc ids dense over (repo, path) as corpus_df
    assigns them."""
    rows = sorted((doc_row(i, seed) for i in range(n)), key=lambda r: (r[0], r[1]))
    return [(i + 1,) + r for i, r in enumerate(rows)]


def oracle_for(rows: list[tuple]) -> OracleEngine:
    docs = [{"doc_id": r[0], "content": r[5]} for r in rows]
    return OracleEngine(OracleIndex.build(docs, ["content"], TOKENIZER))


def make_queries(oracle: OracleEngine, rng: random.Random) -> list[tuple[str, str]]:
    """A fixed order of query kinds; the terms are drawn by ``rng`` from df
    bands of the corpus: head stems, mid-Zipf identifiers, rare numeric
    literals and the planted phrases."""
    idx = oracle.idx
    df = Counter()
    for toks in idx.docs[1].values():
        df.update({t for t, _ in toks})
    alpha = sorted((t for t in df if t.isalpha()), key=lambda t: (-df[t], t))
    head = [t for t in alpha[:25] if len(t) >= 3]
    mid = [t for t in alpha if len(t) >= 7 and 5 <= df[t] <= idx.n_docs // 20]
    rare = sorted(t for t in df if t.isdigit() and len(t) >= 3 and 2 <= df[t] <= 3)
    if len(head) < 4 or len(mid) < 4 or not rare:
        raise RuntimeError(f"corpus too small for the df bands: {len(head)} {len(mid)} {len(rare)}")
    h = rng.sample(head, 4)
    m = rng.sample(mid, 4)
    words = rng.choice(PLANTED).split()
    return [
        ("single", h[0]),
        ("near", f"*N5 {words[0]} {words[-1]}"),
        ("and", f"{m[0]} {h[1]}"),
        ("rare", rng.choice(rare)),
        ("phrase", '"' + " ".join(words) + '"'),
        ("or", f"{m[1]} OR {m[2]}"),
        ("not", f"{h[2]} -{m[0]}"),
        ("prefix", m[3][:5] + "*"),
        ("mixed", f'"{words[0]} {words[1]}" {h[3]}'),
    ]


# -- measurement helpers --------------------------------------------------


class Ops:
    """Runs every public engine call under a ``"<layer>|<op id>"`` job
    description and records its wall time and outcome."""

    def __init__(self, sc):
        self.sc = sc
        self.records: list[dict] = []

    def run(self, layer: str, fn, **meta):
        rec = {"id": str(len(self.records)), "layer": layer, "ok": False, **meta}
        self.records.append(rec)
        self.sc.setJobDescription(f"{layer}|{rec['id']}")
        t0 = time.perf_counter()
        try:
            out = fn()
            rec["ok"] = True
            return out
        except Exception:
            traceback.print_exc()
            return None
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            self.sc.setJobDescription(None)

    def of(self, layer: str, **match) -> list[dict]:
        return [
            r
            for r in self.records
            if r["layer"] == layer and r["ok"] and all(r.get(k) == v for k, v in match.items())
        ]

    @property
    def failed(self) -> int:
        return sum(1 for r in self.records if not r["ok"] or r.get("mismatch"))


def check_rows(rec: dict, got: list[tuple], want: list[tuple], ordered: bool = True) -> None:
    """Mark ``rec`` mismatched unless ``got`` equals the oracle's ``want``:
    the same doc ids (in rank order when ``ordered``), scores within 1e-9."""
    if ordered:
        same = [d for d, _ in got] == [d for d, _ in want]
    else:
        same = sorted(d for d, _ in got) == sorted(d for d, _ in want)
    ws = dict(want)
    if not same or any(abs(s - ws[d]) > SCORE_TOL for d, s in got):
        rec["mismatch"] = True
        print(f"MISMATCH op {rec['id']} {rec.get('q')!r}: {got} vs {want}", file=sys.stderr)


def tree_bytes(path: str) -> dict[str, tuple[int, int]]:
    """``{relative file: (size, mtime_ns)}`` of the data files under path."""
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            if f.startswith(".") or f.startswith("_"):
                continue  # checksum files and _SUCCESS markers
            p = os.path.join(d, f)
            st = os.stat(p)
            out[os.path.relpath(p, path)] = (st.st_size, st.st_mtime_ns)
    return out


def written_by_table(before: dict, after: dict) -> Counter:
    """Bytes of the files that are new or rewritten, by top-level table."""
    out = Counter()
    for f, (size, mtime) in after.items():
        if before.get(f) != (size, mtime) and os.sep in f:
            out[f.split(os.sep, 1)[0]] += size
    return out


def vm_hwm_kb(pid: "int | str") -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tail_ms(lat_ms: list[float]) -> "tuple[float | None, float | None]":
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it, or (None, None) with fewer than 11 samples."""
    n = len(lat_ms)
    if n < 11:
        return None, None
    s = sorted(lat_ms)
    i = n - 11  # ten samples lie beyond index n - 11
    return 100.0 * (i + 1) / n, s[i]


def median(xs: list[float]) -> float:
    if not xs:
        raise RuntimeError("no samples for a median")
    return statistics.median(xs)


# -- workloads ------------------------------------------------------------


class Inputs:
    """Everything a run derives from its seed in this process, without Spark:
    made while the JVM starts."""

    def __init__(self, seed: int):
        t0 = time.perf_counter()
        self.rng = random.Random(seed)
        self.rows = make_corpus(seed, N_DOCS)
        self.content_bytes = sum(len(r[5].encode()) for r in self.rows)
        if self.content_bytes <= 0:
            raise RuntimeError("corpus has no content bytes")
        self.pdf = pd.DataFrame(self.rows, columns=[c.split()[0] for c in SCHEMA.split(", ")])
        self.gen_s = time.perf_counter() - t0
        self.oracle = oracle_for(self.rows)
        self.queries = make_queries(self.oracle, self.rng)
        self.vocab_size = len(self.oracle.idx.terms())
        self.n_postings = sum(len({t for t, _ in toks}) for toks in self.oracle.idx.docs[1].values())


class Run:
    def __init__(self, spark, args, cores: int, inputs: Inputs):
        self.spark = spark
        self.args = args
        self.cores = cores
        self.inputs = inputs
        self.rows, self.content_bytes = inputs.rows, inputs.content_bytes
        self.oracle, self.queries = inputs.oracle, inputs.queries
        self.ops = Ops(spark.sparkContext)
        self.rng = inputs.rng
        self.lat: list[tuple[str, float]] = []  # (kind, ms) of timed queries
        self.round_s: list[float] = []  # wall s of each timed round
        self.round_n = 1  # queries in a timed round; a churn round is one read
        self.report: dict = {"phase_s": {}, "corpus_gen_s": inputs.gen_s}
        self.t0 = time.perf_counter()

    def mark(self, phase: str) -> None:
        """Seconds since the run started, at the end of ``phase``."""
        self.report["phase_s"][phase] = time.perf_counter() - self.t0

    def setup(self):
        """The set-up both workloads share: SETUP_REPS index builds, the
        last one kept and its dictionary checked against the oracle."""
        inp = self.inputs
        self.cache_corpus()
        idx = None
        for rep in range(SETUP_REPS[self.args.workload]):
            if idx is not None:
                # a build persists its stage-T output too; a later build of
                # the same plan would reuse it and skip tokenization
                self.spark.catalog.clearCache()
                self.cache_corpus()
            idx = self.ops.run(
                "index.build",
                lambda: build_index(self.df, ["content"], tokenizer=TOKENIZER).persist(),
                rep=rep,
            )
            if idx is None:
                raise RuntimeError("index build failed")
        rec = self.ops.of("index.build")[-1]
        got = idx.dictionary.agg({"df": "sum", "term": "count"}).collect()[0]
        want = (inp.vocab_size, inp.n_postings)
        if (got["count(term)"], got["sum(df)"]) != want:
            rec["mismatch"] = True
            print(f"MISMATCH dictionary: {tuple(got)} vs oracle {want}", file=sys.stderr)
        self.report.update(dictionary_rows=want[0], postings=want[1])
        builds = [r["wall_s"] for r in self.ops.of("index.build")]
        self.build_s = median(builds)
        self.report["first_build_s"] = builds[0]  # includes the JVM's warm-up
        self.report["build_files_per_s"] = N_DOCS / self.build_s
        self.mark("builds")
        return idx

    def cache_corpus(self) -> None:
        """The corpus frame, cached by the next build that reads it."""
        self.df = self.spark.createDataFrame(self.inputs.pdf, SCHEMA).persist()

    def select(self, eng: SearchEngine, kind: str, q: str, phase: str) -> tuple[dict, "list | None"]:
        """One ``select`` as a ``query.engine`` op, checked against the
        oracle: its record and its ``(doc_id, score)`` rows."""

        def go():
            return [(r["doc_id"], r["score"]) for r in eng.select(q, k=K, escalate=False).collect()]

        rows = self.ops.run("query.engine", go, kind=kind, q=q, phase=phase, positional=kind in POSITIONAL)
        rec = self.ops.records[-1]
        if rows is not None:
            check_rows(rec, rows, self.oracle.select(q, None, k=K))
        return rec, rows

    def query(self):
        idx = self.setup()
        self.setup_s = self.build_s
        self.eng = SearchEngine(idx)
        self.got = {}
        # one untimed round first, so that no timed sample pays first-use costs
        for kind, q in self.queries[:ROUND]:
            self.got[q] = self.select(self.eng, kind, q, "warmup")[1]
        self.mark("warmup")
        t0 = time.perf_counter()
        self.round_n = ROUND
        while (
            len(self.round_s) < MIN_ROUNDS
            or len(self.round_s) % 2 == 0
            or time.perf_counter() - t0 < self.args.seconds
        ):
            r0 = time.perf_counter()
            for kind, q in self.queries[:ROUND]:
                rec, self.got[q] = self.select(self.eng, kind, q, "window")
                if rec["ok"]:
                    self.lat.append((kind, rec["wall_s"] * 1000.0))
            self.round_s.append(time.perf_counter() - r0)

    def query_extra(self):
        """Traced run only: the other query kinds once each through select,
        then the whole query set through select_batch."""
        for kind, q in self.queries[ROUND:]:
            self.got[q] = self.select(self.eng, kind, q, "extra")[1]
        qmap = {f"q{j}": q for j, (_, q) in enumerate(self.queries)}
        rows = self.ops.run(
            "query.batch", lambda: self.eng.select_batch(qmap, k=K).collect(), n=len(qmap)
        )
        rec = self.ops.records[-1]
        if rows is not None:
            by_q = {q: [] for q in qmap.values()}
            for r in rows:
                by_q[qmap[r["query_id"]]].append((r["doc_id"], r["score"]))
            for q, b in by_q.items():
                check_rows(rec, b, self.oracle.select(q, None, k=K), ordered=False)
                if self.got.get(q) is not None:
                    check_rows(rec, b, self.got[q], ordered=False)
            self.report["batch_queries_per_s"] = len(qmap) / rec["wall_s"]

    def churn(self):
        idx = self.setup()
        path = os.path.join(WORK, "index")
        self.ops.run("index.blockrows.write", lambda: blockrows.write_index_block_rows(idx, path))
        if not self.ops.records[-1]["ok"]:
            raise RuntimeError("index write failed")
        idx.unpersist()
        written = tree_bytes(path)
        self.report["index_bytes"] = sum(s for s, _ in written.values())
        self.report["index_files"] = sum(1 for f in written if f.endswith(".parquet"))
        self.report["index_bytes_per_content_byte"] = self.report["index_bytes"] / self.content_bytes
        self.setup_s = self.build_s + self.ops.of("index.blockrows.write")[0]["wall_s"]
        kinds = dict(self.queries)
        order = self.rng.sample(range(1, N_DOCS + 1), N_DOCS)
        rows = {r[0]: r for r in self.rows}
        self.path, self.kinds = path, kinds
        t0 = time.perf_counter()
        c = 0
        while c == 0 or time.perf_counter() - t0 < self.args.seconds:
            ids = order[c * SLICE_DOCS : (c + 1) * SLICE_DOCS]
            old = [rows[i] for i in ids]
            new = [r[:5] + (doc_row(r[0], self.args.seed + 1)[4],) for r in old]
            before = tree_bytes(path)
            self.ops.run(
                "index.blockrows.commit",
                lambda: blockrows.commit_update(
                    path,
                    self.spark.createDataFrame(old, SCHEMA),
                    self.spark.createDataFrame(new, SCHEMA),
                    mode="append_only",
                ),
                commit=c,
            )
            rec = self.ops.records[-1]
            rec["written"] = written_by_table(before, tree_bytes(path))
            rec["changed_bytes"] = sum(len(r[5].encode()) for r in new)
            for r in new:
                rows[r[0]] = r
            self.oracle = oracle_for(sorted(rows.values()))
            self.reopen_and_read(path, kinds, phase="commit")
            c += 1
        commits = self.ops.of("index.blockrows.commit")
        reads = self.ops.of("index.blockrows.read", phase="commit")
        self.report["commit_p50_s"] = median([r["wall_s"] for r in commits])
        self.report["commit_bytes_per_changed_byte"] = median(
            [sum(r["written"].values()) / r["changed_bytes"] for r in commits]
        )
        self.report["churn_query_p50_ms"] = median([r["read_s"] * 1000.0 for r in reads])

    def churn_extra(self):
        """Traced run only: compact, then one more read."""
        before = tree_bytes(self.path)
        self.ops.run("index.blockrows.compact", lambda: blockrows.compact(self.path))
        rec = self.ops.records[-1]
        rec["written"] = written_by_table(before, tree_bytes(self.path))
        if rec["ok"]:
            self.report["compact_s"] = rec["wall_s"]
        self.reopen_and_read(self.path, self.kinds, phase="compact")

    def reopen_and_read(self, path: str, kinds: dict, phase: str) -> None:
        """Reopen the on-disk index (an ``index.blockrows.read`` op), then
        the first read after it (a ``query.engine`` op); one latency
        sample is the two together."""
        kind, q = CHURN_READ, kinds[CHURN_READ]
        idx = self.ops.run(
            "index.blockrows.read", lambda: blockrows.read_index_block_rows(self.spark, path), phase=phase
        )
        if idx is None:
            raise RuntimeError("reopening the index failed")
        reopen = self.ops.records[-1]
        rec, rows = self.select(SearchEngine(idx), kind, q, phase)
        if rows is None:
            raise RuntimeError("the first read after the reopen failed")
        reopen["select_id"] = rec["id"]
        reopen["read_s"] = reopen["wall_s"] + rec["wall_s"]
        self.lat.append((kind, reopen["read_s"] * 1000.0))
        if phase == "commit":
            self.round_s.append(reopen["read_s"])

    # -- results ----------------------------------------------------------

    def e2e(self) -> dict:
        lat = [ms for _, ms in self.lat]
        pos = [ms for kind, ms in self.lat if kind in POS_P50]
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        py_mb, jvm_mb = vm_hwm_kb("self") / 1024.0, vm_hwm_kb(jvm_pid) / 1024.0
        # the JVM's share moves with G1's heap sizing (1.2-2.6 GB on equal
        # work), too wide for a bound: reported, not bounded
        self.report.update(peak_rss_mb=py_mb + jvm_mb, rss_hwm_mb={"python": py_mb, "jvm": jvm_mb})
        out = {
            "setup_s": self.setup_s,
            "query_p50_ms": median(lat),
            "pos_query_p50_ms": median(pos),
            # closed loop: the queries of a round over the median round's wall
            # time, so that one slow query does not move it as it would a mean
            "queries_per_s": self.round_n / median(self.round_s),
        }
        pct, val = tail_ms(lat)
        self.report.update(
            query_tail_ms=val,
            query_tail_pct=pct,
            query_samples=len(lat),
            query_samples_by_kind=dict(Counter(kind for kind, _ in self.lat)),
            query_rounds=len(self.round_s),
        )
        return out

    def select_ms(self) -> dict:
        """Wall milliseconds of every answered select, by phase and kind."""
        out: dict = {}
        for r in self.ops.of("query.engine"):
            out.setdefault(r["phase"], {}).setdefault(r["kind"], []).append(r["wall_s"] * 1000.0)
        return out


# -- per-layer metrics from the event log ---------------------------------


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(run: Run, stats: dict, e2e: dict) -> dict:
    ops = run.ops
    spark_ops = [r for r in ops.records if r["ok"]]
    silent = [r["id"] + ":" + r["layer"] for r in spark_ops if stats.get(r["id"]) is None or stats[r["id"]].jobs < 1]
    if silent:
        raise RuntimeError(f"ops with no attributed Spark job: {silent}")

    def st(r):
        return stats[r["id"]]

    def py_all(s) -> float:
        return sum(s.py(c, "py_run_ms") for c in ("tokenize", "encode", "decode", "python"))

    out = {}
    builds = ops.of("index.build")
    out["index.build.wall_s"] = _mean(r["wall_s"] for r in builds)
    for name, fn in (
        ("jobs", lambda s: s.jobs),
        ("exec_cpu_s", lambda s: s.exec_cpu_s),
        ("task_run_s", lambda s: s.task_run_s),
        ("scheduler_delay_s", lambda s: s.scheduler_delay_s),
        ("exchange.shuffle_write_bytes", lambda s: s.shuffle_write_bytes),
        ("exchange.shuffle_read_bytes", lambda s: s.shuffle_read_bytes),
        ("exchange.fetch_wait_s", lambda s: s.fetch_wait_s),
        ("spill_bytes", lambda s: s.spill_bytes),
        ("encode.py_run_s", lambda s: s.py("encode", "py_run_ms")),
        ("encode.py_bytes_in", lambda s: s.py("encode", "py_bytes_in")),
        ("encode.py_bytes_out", lambda s: s.py("encode", "py_bytes_out")),
        ("encode.tasks", lambda s: s.node_tasks.get("encode", 0)),
    ):
        out[f"index.build.{name}"] = _mean(fn(st(r)) for r in builds)
    for name, metric in (
        ("py_run_s", "py_run_ms"),
        ("py_bytes_in", "py_bytes_in"),
        ("py_bytes_out", "py_bytes_out"),
        ("rows_out", "rows_out"),
    ):
        out[f"tokenize.{name}"] = _mean(st(r).py("tokenize", metric) for r in builds)
    out["tokenize.docs_per_s"] = run.report["tokenize_docs_per_s"]
    out["query.parser.parse_us"] = run.report["parse_us"]

    writes = ops.of("index.blockrows.write")
    out["index.blockrows.write.wall_s"] = _mean(r["wall_s"] for r in writes)
    out["index.blockrows.write.bytes"] = run.report.get("index_bytes", 0)
    out["index.blockrows.write.files"] = run.report.get("index_files", 0)
    commits = ops.of("index.blockrows.commit")
    out["index.blockrows.commit.wall_s"] = _mean(r["wall_s"] for r in commits)
    out["index.blockrows.commit.jobs"] = _mean(st(r).jobs for r in commits)
    for name, tables in (
        ("postings_rows", ("postings_rows",)),
        ("deletes", ("postings_deletes", "doc_deletes")),
        ("dictionary", ("dictionary",)),
        ("doclens", ("doclens",)),
    ):
        out[f"index.blockrows.commit.bytes_written.{name}"] = _mean(
            sum(r["written"].get(t, 0) for t in tables) for r in commits
        )
    out["index.blockrows.commit.scan_bytes_read"] = _mean(st(r).input_bytes for r in commits)
    out["index.blockrows.commit.py_run_s"] = _mean(py_all(st(r)) for r in commits)
    compacts = ops.of("index.blockrows.compact")
    out["index.blockrows.compact.wall_s"] = _mean(r["wall_s"] for r in compacts)
    out["index.blockrows.compact.bytes_rewritten"] = _mean(sum(r["written"].values()) for r in compacts)
    out["index.blockrows.compact.py_run_s"] = _mean(py_all(st(r)) for r in compacts)
    reads = ops.of("index.blockrows.read", phase="commit")
    out["index.blockrows.read.wall_s"] = _mean(r["wall_s"] for r in reads)
    # the tombstone mask is built lazily, so it is broadcast by the first
    # select on the reopened index
    out["index.blockrows.read.broadcast_bytes"] = _mean(
        st(r).node.get(("broadcast", "bytes"), 0) + stats[r["select_id"]].node.get(("broadcast", "bytes"), 0)
        for r in reads
    )

    queries = ops.of("query.engine")
    for name, fn in (
        ("jobs_per_query", lambda r, s: s.jobs),
        ("stages_per_query", lambda r, s: s.stages),
        ("tasks_per_query", lambda r, s: s.tasks),
        ("driver_s_per_query", lambda r, s: max(r["wall_s"] - s.job_covered_s(), 0.0)),
        ("scheduler_delay_s_per_query", lambda r, s: s.scheduler_delay_s),
        ("broadcasts_per_query", lambda r, s: s.broadcasts),
        ("broadcast_bytes_per_query", lambda r, s: s.node.get(("broadcast", "bytes"), 0)),
        ("shuffle_bytes_per_query", lambda r, s: s.shuffle_write_bytes),
        ("scan_bytes_per_query", lambda r, s: s.input_bytes),
        ("exec_cpu_s_per_query", lambda r, s: s.exec_cpu_s),
    ):
        out[f"query.engine.{name}"] = _mean(fn(r, st(r)) for r in queries)
    for split, sel in (
        ("", queries),
        ("pos.", [r for r in queries if r["positional"]]),
        ("nonpos.", [r for r in queries if not r["positional"]]),
    ):
        for name, cls, metric in (
            ("py_run_s_per_query", "decode", "py_run_ms"),
            ("py_bytes_in_per_query", "decode", "py_bytes_in"),
            ("py_bytes_out_per_query", "decode", "py_bytes_out"),
            ("rows_out_per_query", "decode", "rows_out"),
        ):
            out[f"query.decode.{split}{name}"] = _mean(st(r).py(cls, metric) for r in sel)
    batches = ops.of("query.batch")
    out["query.batch.jobs"] = _mean(st(r).jobs for r in batches)
    out["query.batch.decode.py_run_s"] = _mean(st(r).py("decode", "py_run_ms") for r in batches)
    out["query.batch.shuffle_bytes"] = _mean(st(r).shuffle_write_bytes for r in batches)

    every = [st(r) for r in spark_ops]
    out["spark.failed_tasks"] = sum(s.failed_tasks for s in every)
    out["spark.gc_s"] = sum(s.gc_s for s in every)
    out["spark.cpu_util"] = sum(s.exec_cpu_s for s in every) / (sum(r["wall_s"] for r in spark_ops) * run.cores)
    for name, v in e2e.items():
        out[f"trace.{name}"] = v

    wl = run.args.workload
    missing = [
        n
        for n, (_, where, _, may_be_zero) in M.PER_LAYER.items()
        if wl in where and not may_be_zero and not out.get(n)
    ]
    if set(out) != set(M.PER_LAYER) or missing:
        raise RuntimeError(
            f"per-layer rows missing or zero on {wl}: {sorted(set(M.PER_LAYER) ^ set(out)) + missing}"
        )
    return out


def direct_layers(run: Run) -> None:
    """Layers timed by direct calls, without Spark: the tokenizer on a
    seeded sample of the corpus and the query parser on the query set."""
    sample = [r[5] for r in run.rng.sample(run.rows, min(200, len(run.rows)))]
    per = []
    for _ in range(5):
        t0 = time.perf_counter()
        tokenize_batch(sample, TOKENIZER)
        per.append(len(sample) / (time.perf_counter() - t0))
    run.report["tokenize_docs_per_s"] = statistics.median(per)
    qs = [q for _, q in run.queries]
    per = []
    for _ in range(5):
        t0 = time.perf_counter()
        for _ in range(20):
            for q in qs:
                parse_query_ex(q)
        per.append((time.perf_counter() - t0) * 1e6 / (20 * len(qs)))
    run.report["parse_us"] = statistics.median(per)


# -- process --------------------------------------------------------------


class RunTimeout(BaseException):
    """Raised by the alarm; a BaseException so that Ops.run, which counts
    an op's ordinary exceptions as failures, does not swallow it."""


def spark_env(trace: bool) -> None:
    """Keep every file Spark, the JVM and Python write inside WORK; turn on
    an uncompressed, non-rolling event log when tracing."""
    dirs = {d: os.path.join(WORK, d) for d in ("local", "tmp", "eventlog", "warehouse")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    conf = {"spark.sql.warehouse.dir": dirs["warehouse"]}
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + dirs["eventlog"],
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    args = []
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    args += [
        "--driver-java-options",
        # no hsperfdata file: the JVM would write it under /tmp
        f"-Djava.io.tmpdir={dirs['tmp']} -Dderby.system.home={dirs['tmp']} -XX:-UsePerfData",
        "pyspark-shell",
    ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args)


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM it started has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        proc.wait(timeout=60)


def provenance(spark, args, nproc: int, run: Run) -> dict:
    import pyspark

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc,
        "master": spark.sparkContext.master,
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "spark_local_dirs": os.path.relpath(os.environ["SPARK_LOCAL_DIRS"], ROOT),
        "corpus_docs": N_DOCS,
        "corpus_content_bytes": run.content_bytes,
        "slice_docs": SLICE_DOCS,
        "queries": run.queries,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=M.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    nproc = len(os.sched_getaffinity(0))
    if args.seconds <= 0:
        p.error("--seconds must be positive")

    def on_alarm(signum, frame):
        raise RunTimeout(f"run exceeded {TIME_LIMIT_S} s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(TIME_LIMIT_S)
    shutil.rmtree(WORK, ignore_errors=True)
    spark = None
    try:
        spark_env(bool(args.trace))
        t_start = time.perf_counter()
        with ThreadPoolExecutor(1) as pool:
            inputs = pool.submit(Inputs, args.seed)
            spark = get_spark("perfbench", cores=nproc)
            run = Run(spark, args, nproc, inputs.result())
        run.report["spark_start_s"] = time.perf_counter() - t_start
        getattr(run, args.workload)()
        e2e = run.e2e()
        run.mark("window")
        if args.trace:
            getattr(run, args.workload + "_extra")()
            direct_layers(run)
        run.report["select_ms"] = run.select_ms()
        prov = provenance(spark, args, nproc, run)
        run.mark("done")
        stop_spark(spark)
        spark = None
        run.mark("stopped")
        attempted = len(run.ops.records)
        failed = run.ops.failed
        run.report["error_rate"] = failed / attempted
        if args.trace:
            logs = os.listdir(os.path.join(WORK, "eventlog"))
            if len(logs) != 1 or logs[0].endswith(".inprogress"):
                raise RuntimeError(f"expected one finished event log, found {logs}")
            stats = fold_file(os.path.join(WORK, "eventlog", logs[0]))
            values = per_layer(run, stats, e2e)
            units = {n: row[0] for n, row in M.PER_LAYER.items()}
        else:
            values = e2e
            units = {n: row[0] for n, row in M.E2E.items()}
        report = {n: run.report.get(n) for n in M.REPORTED}
        report.update(
            {k: v for k, v in run.report.items() if k not in report},
            e2e=e2e,
            provenance=prov,
        )
        print(json.dumps({"report": report}))
        print(
            json.dumps(
                {
                    "correct": failed == 0,
                    "attempted": attempted,
                    "failed": failed,
                    "metrics": {n: {"value": float(v), "unit": units[n]} for n, v in values.items()},
                }
            )
        )
        return 0
    finally:
        signal.alarm(0)
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
