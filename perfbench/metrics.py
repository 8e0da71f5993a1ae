"""Names, units and predictions of every metric the benchmark reports.

``E2E`` are the end-to-end metrics every workload reports with tracing off.
``PER_LAYER`` are the traced run's layer metrics.  Each layer row records the
end-to-end metric it should move and the workloads on which its layer does
work; on the other workload the layer does no work, so it reads 0 and no
change is expected there.  ``BENCHMARK.json`` lists exactly these names.
"""

from __future__ import annotations

WORKLOADS = ("query", "churn")
BOTH = WORKLOADS

# name -> (unit, better, bound)
E2E = {
    "setup_s": ("s", "lower", 0.25),
    "query_p50_ms": ("ms", "lower", 0.25),
    "pos_query_p50_ms": ("ms", "lower", 0.25),
    "queries_per_s": ("1/s", "higher", 0.25),
}

# end-to-end figures that only one workload can produce, or too noisy or
# too redundant to bound; every run prints them on its report line
REPORTED = {
    "corpus_gen_s": "s",
    "build_files_per_s": "1/s",
    "peak_rss_mb": "MB",
    "index_bytes_per_content_byte": "ratio",
    "query_tail_ms": "ms",
    "batch_queries_per_s": "1/s",
    "commit_p50_s": "s",
    "commit_bytes_per_changed_byte": "ratio",
    "compact_s": "s",
    "churn_query_p50_ms": "ms",
    "error_rate": "ratio",
}

_BUILD = ("build_files_per_s", "setup_s")
_QUERY = ("query_p50_ms", "pos_query_p50_ms", "queries_per_s")

# name -> (unit, workloads where the layer works, e2e metrics it moves,
#          may legitimately read 0 where the layer works)
PER_LAYER: dict[str, tuple] = {}


def _row(name, unit, where, moves, may_be_zero=False):
    PER_LAYER[name] = (unit, where, moves, may_be_zero)


_row("tokenize.docs_per_s", "1/s", BOTH, _BUILD)
_row("tokenize.py_run_s", "s", BOTH, _BUILD)
_row("tokenize.py_bytes_in", "B", BOTH, _BUILD)
_row("tokenize.py_bytes_out", "B", BOTH, _BUILD)
_row("tokenize.rows_out", "count", BOTH, _BUILD)
for _n, _u, _z in (
    ("wall_s", "s", False),
    ("jobs", "count", False),
    ("exec_cpu_s", "s", False),
    ("task_run_s", "s", False),
    ("scheduler_delay_s", "s", False),
    ("exchange.shuffle_write_bytes", "B", False),
    ("exchange.shuffle_read_bytes", "B", False),
    ("exchange.fetch_wait_s", "s", True),
    ("spill_bytes", "B", True),
    ("encode.py_run_s", "s", False),
    ("encode.py_bytes_in", "B", False),
    ("encode.py_bytes_out", "B", False),
    ("encode.tasks", "count", False),
):
    _row(f"index.build.{_n}", _u, BOTH, ("build_files_per_s",), _z)
for _n, _u in (("wall_s", "s"), ("bytes", "B"), ("files", "count")):
    _row(f"index.blockrows.write.{_n}", _u, ("churn",), ("setup_s",))
for _n, _u in (
    ("wall_s", "s"),
    ("jobs", "count"),
    ("bytes_written.postings_rows", "B"),
    ("bytes_written.deletes", "B"),
    ("bytes_written.dictionary", "B"),
    ("bytes_written.doclens", "B"),
    ("scan_bytes_read", "B"),
    ("py_run_s", "s"),
):
    _row(f"index.blockrows.commit.{_n}", _u, ("churn",), ("commit_p50_s",))
for _n, _u in (("wall_s", "s"), ("bytes_rewritten", "B"), ("py_run_s", "s")):
    _row(f"index.blockrows.compact.{_n}", _u, ("churn",), ("compact_s",))
_row("index.blockrows.read.wall_s", "s", ("churn",), ("query_p50_ms",))
_row("index.blockrows.read.broadcast_bytes", "B", ("churn",), ("query_p50_ms",))
_row("query.parser.parse_us", "us", BOTH, ("query_p50_ms",))
for _n, _u in (
    ("jobs_per_query", "count"),
    ("stages_per_query", "count"),
    ("tasks_per_query", "count"),
    ("driver_s_per_query", "s"),
    ("scheduler_delay_s_per_query", "s"),
    ("broadcasts_per_query", "count"),
    ("broadcast_bytes_per_query", "B"),
    ("shuffle_bytes_per_query", "B"),
    ("scan_bytes_per_query", "B"),
    ("exec_cpu_s_per_query", "s"),
):
    _row(f"query.engine.{_n}", _u, BOTH, _QUERY + ("churn_query_p50_ms",))
# churn's only query is its NEAR read after each reopen, so its
# non-positional decode reads 0
for _split, _where, _moves in (
    ("", BOTH, ("query_p50_ms", "pos_query_p50_ms")),
    ("pos.", BOTH, ("pos_query_p50_ms",)),
    ("nonpos.", ("query",), ("query_p50_ms",)),
):
    for _n, _u in (
        ("py_run_s_per_query", "s"),
        ("py_bytes_in_per_query", "B"),
        ("py_bytes_out_per_query", "B"),
        ("rows_out_per_query", "count"),
    ):
        _row(f"query.decode.{_split}{_n}", _u, _where, _moves)
_row("query.batch.jobs", "count", ("query",), ("batch_queries_per_s",))
_row("query.batch.decode.py_run_s", "s", ("query",), ("batch_queries_per_s",))
_row("query.batch.shuffle_bytes", "B", ("query",), ("batch_queries_per_s",))
_row("spark.failed_tasks", "count", BOTH, ("error_rate",), True)
_row("spark.gc_s", "s", BOTH, tuple(E2E), True)
_row("spark.cpu_util", "ratio", BOTH, tuple(E2E))


def better(name: str) -> str:
    """Direction of a per-layer metric: rates and utilisation up, the
    rest (time, bytes, jobs, tasks, rows) down."""
    if name.startswith("trace."):
        return E2E[name[len("trace."):]][1]
    if PER_LAYER[name][0] == "1/s" or name == "spark.cpu_util":
        return "higher"
    return "lower"


# the traced run's own end-to-end figures; against the untraced run's they
# give the tracing overhead (perfbench/overhead.py prints the difference)
for _n, (_u, _b, _bound) in E2E.items():
    _row(f"trace.{_n}", _u, BOTH, (_n,))
