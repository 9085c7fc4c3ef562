"""Per-layer metrics of a traced run.

Every metric is ``<module>.<metric>``, named after the engine module
whose public functions the benchmark wraps in spans (``bench.*`` and
``session.*`` are the benchmark's own set-up phases).  Per-op figures
are medians over the measured window's ops.  A layer that a workload
does not call reports 0: the benchmark predicts it flat there.
"""

from __future__ import annotations

import statistics

from spans import GROUP_PREFIX, EventLog, Span, self_times

MB = 2**20


class _Ops:
    """The window's op spans and their descendants, joined to the
    event log by job group."""

    def __init__(self, spans: list[Span], log: EventLog, ops: list[int]):
        self.log = log
        self.ops = ops
        self.kids: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                self.kids.setdefault(s.parent, []).append(s)
        self.roots = {s.op: s for s in spans if s.name == "op" and s.op in ops}

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.kids.get(s.id, ()))
        return out

    def named(self, op: int, name: str) -> list[Span]:
        return [s for s in self.subtree(self.roots[op]) if s.name == name]

    def slice(self, spans: list[Span]):
        groups = {f"{GROUP_PREFIX}{s.id}" for sp in spans for s in self.subtree(sp)}
        return self.log.select(groups)

    def median(self, fn) -> float:
        vals = [fn(op) for op in self.ops if op in self.roots]
        return float(statistics.median(vals)) if vals else 0.0

    def span_median(self, name: str, fn) -> float:
        return self.median(
            lambda op: sum(fn(s) for s in self.named(op, name))
        )

    def jobs_stats(self, spans_of) -> dict[str, float]:
        """Median per-op job/stage/task counts, task CPU/GC, shuffle,
        spill and driver gap over the spans ``spans_of(op)`` picks."""

        def per(op, f):
            spans = spans_of(op)
            return f(self.slice(spans), spans)

        def gap(sl, spans):
            return sum(s.duration - sl.job_union_s(s.start, s.end) for s in spans)

        return {
            "jobs": self.median(lambda op: per(op, lambda sl, _: len(sl.jobs))),
            "stages": self.median(lambda op: per(op, lambda sl, _: len(sl.stages))),
            "tasks": self.median(lambda op: per(op, lambda sl, _: len(sl.tasks))),
            "task_cpu_s": self.median(lambda op: per(op, lambda sl, _: sl.total("cpu_s"))),
            "gc_s": self.median(lambda op: per(op, lambda sl, _: sl.total("gc_s"))),
            "shuffle_write_mb": self.median(
                lambda op: per(op, lambda sl, _: sl.total("shuffle_write_b") / MB)
            ),
            "spill_mb": self.median(lambda op: per(op, lambda sl, _: sl.total("spill_b") / MB)),
            "driver_gap_s": self.median(lambda op: per(op, gap)),
        }


def compute(names, workload: str, wl, spans, log: EventLog, ops, passes,
            window, probes):
    """The per-layer metrics ``names`` (BENCHMARK.json's ``per_layer``)
    for one traced run, 0 for layers the workload leaves idle."""
    out = dict.fromkeys(names, 0.0)
    med = passes[sorted(range(len(passes)), key=lambda p: passes[p]["setup_s"])[len(passes) // 2]]
    out["session.start_s"] = med["start_s"]
    out["bench.first_pass_s"] = passes[0]["setup_s"] - passes[0]["start_s"]
    out["bench.fixture_s"] = med["fixture_s"]
    out["sources.table_log.create_s"] = med.get("create_s", 0.0)
    out["bench.warmup_s"] = med["warmup_s"]
    out["bench.traced_ops_per_s"] = len(ops) / window
    o = _Ops(spans, log, ops)
    selfs = self_times(spans)
    out["bench.op_self_s"] = o.median(lambda op: selfs[o.roots[op].id])
    out.update(probes)

    if workload == "tiff_ingest":
        st = o.jobs_stats(lambda op: [o.roots[op]])
        for k in ("jobs", "stages", "tasks", "task_cpu_s", "gc_s", "driver_gap_s"):
            out[f"sources.tiff.{k}"] = st[k]
        out["sources.tiff.plan_s"] = o.span_median(
            "sources.tiff.from_tiff_dir", lambda s: s.duration
        )
        op_slice = lambda op: o.slice([o.roots[op]])  # noqa: E731
        out["sources.tiff.decode_task_skew"] = o.median(
            lambda op: op_slice(op).stage_task_skew()
        )
        for key, metric, scale in (
            ("python_run_s", "time to run Python workers", 1.0),
            ("python_boot_s", "time to start Python workers", 1.0),
            ("arrow_mb_sent", "data sent to Python workers", 1 / MB),
            ("arrow_mb_returned", "data returned from Python workers", 1 / MB),
        ):
            out[f"sources.tiff.{key}"] = o.median(
                lambda op: op_slice(op).sql(metric) * scale
            )

    elif workload == "ome_merge":
        up = "sources.table_log.upsert_ome_table"
        st = o.jobs_stats(lambda op: o.named(op, up))
        out["sources.table_log.upsert_s"] = o.span_median(up, lambda s: s.duration)
        out["sources.table_log.upsert_jobs"] = st["jobs"]
        out["sources.table_log.upsert_stages"] = st["stages"]
        out["sources.table_log.upsert_tasks"] = st["tasks"]
        out["sources.table_log.upsert_driver_gap_s"] = st["driver_gap_s"]
        for k in ("task_cpu_s", "shuffle_write_mb", "spill_mb"):
            out[f"sources.table_log.{k}"] = st[k]
        commits = [wl.commits[op] for op in ops if op in wl.commits]
        for key in ("files_added", "files_removed", "mb_written"):
            out[f"sources.table_log.{key}_per_op"] = statistics.median(
                c[key] for c in commits
            )
        user_mb = wl.batch * wl.size * wl.size * 2 / MB
        out["sources.table_log.write_amp"] = (
            out["sources.table_log.mb_written_per_op"] / user_mb
        )
        out["sources.table_log.live_files"] = statistics.median(
            c["live_files"] for c in commits
        )
        out["sources.table_log.space_amp"] = statistics.median(
            c["table_mb"] for c in commits
        ) / (wl.n_images * wl.size * wl.size * 2 / MB)
        ckpt = [c["op_s"] for c in wl.commits.values() if c["checkpoint"]]
        out["sources.table_log.checkpoint_op_s"] = (
            statistics.median(ckpt) if ckpt else 0.0
        )
        # read path: the lookup probes on a freshly written table
        lk = _Ops(spans, log, wl.lookup_ops)
        rd = "sources.table_log.read_ome_table"
        out["sources.table_log.read_s"] = lk.span_median(rd, lambda s: s.duration)
        coll = lambda op: lk.slice(lk.named(op, "collect"))  # noqa: E731
        files = lk.median(lambda op: coll(op).sql("number of files read", "Scan"))
        out["sources.table_log.files_scanned_per_lookup"] = files
        out["sources.table_log.prune_ratio"] = files / wl.lookup_files
        out["sources.table_log.rows_read_per_row_returned"] = lk.median(
            lambda op: coll(op).sql("number of output rows", "Scan") / wl.lookup_ids
        )
        sl = "operators.slice_op.slice_images"
        out["operators.slice_op.slice_s"] = lk.span_median(sl, lambda s: s.duration)
        out["operators.slice_op.eager_jobs"] = lk.median(
            lambda op: len(lk.slice(lk.named(op, sl)).jobs)
        )

    elif workload == "knn_join":
        st = o.jobs_stats(lambda op: [o.roots[op]])
        for k in ("jobs", "stages", "tasks", "driver_gap_s", "shuffle_write_mb",
                  "spill_mb", "task_cpu_s"):
            out[f"operators.similarity.{k}"] = st[k]
        out["operators.similarity.window_input_rows"] = o.median(
            lambda op: o.slice([o.roots[op]]).rows_into(("WindowGroupLimit", "Window"))
        )
    if set(out) != set(names):
        raise KeyError(f"not in BENCHMARK.json: {sorted(set(out) - set(names))}")
    return out
