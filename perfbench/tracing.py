"""Per-layer tracing from outside the engine.

A traced run (``--trace 1``) gets its layer numbers three ways:

* the benchmark sets a Spark job group around every call it makes into
  a layer (``Tracer.span``) and wraps ``IndexStore.write_stage`` and
  ``query_parser.parse`` so build stages and parsing get spans too;
* Spark's own event log (uncompressed; Spark 4 writes it as a rolling
  ``eventlog_v2_<app>/events_N_<app>`` directory) gives jobs, tasks,
  executor (JVM) CPU, shuffle-write and output bytes per job group;
* ``/proc`` gives the CPU of the Python workers (the UDF kernels), read
  at span boundaries and sampled in between.

Jobs inside ``SearchEngine.search`` are split into query phases by the
statement Spark records as their call site: its engine function and the
variable it assigns (``CALL_SITES``). ``finish`` fails the run when any
job carries no benchmark job group, when a query job's call site maps
to no phase, or when a ``CALL_SITES`` entry is no longer in the source.
"""

from __future__ import annotations

import ast
import bisect
import contextlib
import glob
import json
import os
import threading
import time
from typing import Dict, List, Optional

FIELDS = {
    "wall_s": "s", "jobs": "count", "tasks": "count", "jvm_cpu_s": "s",
    "py_cpu_s": "s", "shuffle_write_bytes": "B", "output_bytes": "B",
}
_NO_OUTPUT = tuple(f for f in FIELDS if f != "output_bytes")

# span -> fields that apply to it
SPANS: Dict[str, tuple] = {
    **{f"index_build.{s}": tuple(FIELDS)
       for s in ("docs", "postings", "docmeta", "dictionary", "blocks",
                 "stats")},
    "query_parser.parse": ("wall_s",),
    **{f"query_eval.{p}": _NO_OUTPUT
       for p in ("open", "term_stats", "block_meta", "phase1", "topk",
                 "enrich")},
    "incremental.epoch": tuple(FIELDS),
    "incremental.search_query": _NO_OUTPUT,
    "dedup.ngram_pairs": _NO_OUTPUT,
    "dedup.minhash_pairs": _NO_OUTPUT,
    "pipeline.canonicalize": _NO_OUTPUT,
}
ROUTES = ("term_pruned", "term_full", "and_pruned", "or_pruned",
          "tree_pruned", "full_eval")
# (engine function, variable the job's statement assigns) -> query phase,
# for every statement in query_eval.py that runs a Spark job under
# ``search``. ``finish`` checks each entry against the current source, so
# a renamed function or variable fails the traced run instead of moving
# its jobs into another phase. ``None`` is the caller's own collect of
# the frame ``search`` returned.
CALL_SITES = {
    ("term_stats", "rows"): "term_stats",
    ("prefetch_block_meta", "rows"): "block_meta",
    ("_term_scores_topk_pruned", "top_meta"): "block_meta",
    ("_term_scores_topk_pruned", "topk1"): "phase1",
    ("_or_scores_block_pruned", "p1_rows"): "block_meta",
    ("_or_scores_block_pruned", "topk1"): "phase1",
    ("_and_scores_block_pruned", "ranges"): "block_meta",
    ("_tree_scores_block_pruned", "topk_rows"): "block_meta",
    ("_tree_scores_block_pruned", "topk1"): "phase1",
    ("_enrich_hits", "hit_rows"): "topk",
    ("_enrich_hits", "lookup"): "enrich",
    (None, None): "enrich",
}
_PRUNED = {
    "_term_scores_topk_pruned": "term_pruned",
    "_and_scores_block_pruned": "and_pruned",
    "_or_scores_block_pruned": "or_pruned",
    "_tree_scores_block_pruned": "tree_pruned",
}


def per_layer_names() -> Dict[str, str]:
    """Every per-layer metric name -> unit."""
    out = {f"{s}.{f}": FIELDS[f] for s, fs in SPANS.items() for f in fs}
    out.update({f"query_eval.route.{r}.queries": "count" for r in ROUTES})
    return out


# -- /proc ------------------------------------------------------------------

_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> Optional[List[str]]:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rindex(")") + 2:].split()  # fields from 3 (state) on


def descendants(root: int) -> List[int]:
    kids: Dict[int, List[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st:
                kids.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_s(pids) -> float:
    """utime+stime, including reaped children, over ``pids``."""
    total = 0
    for p in pids:
        st = _stat(p)
        if st:
            total += sum(int(x) for x in st[11:15])
    return total / _TCK


_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # comm, truncated


def jit_cpu_s(jvm: int) -> float:
    """utime+stime of the JVM's JIT compiler threads. The session turns
    off dynamic compiler threads, so these live as long as the JVM."""
    total = 0
    for tid in os.listdir(f"/proc/{jvm}/task"):
        try:
            with open(f"/proc/{jvm}/task/{tid}/stat") as f:
                s = f.read()
        except OSError:
            continue
        if s[s.index("(") + 1:s.rindex(")")].startswith(_JIT_THREADS):
            total += sum(int(x) for x in s[s.rindex(")") + 2:].split()[11:13])
    return total / _TCK


def vm_hwm_mb(pids) -> float:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def process_tree(spark) -> List[int]:
    """The driver, the JVM and the JVM's Python workers."""
    jvm = jvm_pid(spark)
    return [os.getpid(), jvm] + descendants(jvm)


# -- call sites ---------------------------------------------------------------

def _query_phase_map(path: str):
    """line -> (function, assignment target) for query_eval.py."""
    with open(path) as f:
        tree = ast.parse(f.read())
    by_line: Dict[int, tuple] = {}

    def visit(node, func):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name)
                continue
            if isinstance(child, ast.stmt) and func is not None:
                target = None
                if isinstance(child, ast.Assign) and isinstance(
                        child.targets[0], ast.Name):
                    target = child.targets[0].id
                for ln in range(child.lineno, child.end_lineno + 1):
                    by_line[ln] = (func, target)
            visit(child, func)

    visit(tree, None)
    return by_line


# -- tracer -------------------------------------------------------------------

class _Span:
    __slots__ = ("name", "gid", "parent", "t0", "t1", "py0", "py1", "meta")

    def __init__(self, name, gid, parent, meta):
        self.name, self.gid, self.parent, self.meta = name, gid, parent, meta


class Tracer:
    """No-op unless ``enabled``; then records spans and job groups."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: List[_Span] = []
        self.stack: List[_Span] = []
        self.stream_groups: Dict[str, _Span] = {}
        self._samples: List[tuple] = []
        self._stop = threading.Event()

    # -- lifecycle ----------------------------------------------------------
    def attach(self, spark) -> None:
        if not self.enabled:
            return
        self.sc = spark.sparkContext
        self.jvm = jvm_pid(spark)
        self._workers: List[int] = []
        self._install_wrappers()
        self._sampler = threading.Thread(target=self._sample, daemon=True)
        self._sampler.start()

    def _py_cpu(self, rescan: bool = False) -> float:
        if rescan or not self._workers:
            self._workers = descendants(self.jvm)
        return cpu_s(self._workers)

    def _sample(self) -> None:
        n = 0
        while not self._stop.wait(0.1):
            n += 1
            self._samples.append((time.time(), self._py_cpu(n % 10 == 0)))

    def _install_wrappers(self) -> None:
        from search_engine_spark.plans import query_parser
        from search_engine_spark.sources.index_store import IndexStore

        tracer = self
        write_stage = IndexStore.write_stage
        parse = query_parser.parse

        def traced_write_stage(store, stage, df, wall_start):
            with tracer.span(f"index_build.{stage}"):
                return write_stage(store, stage, df, wall_start)

        def traced_parse(query):
            if not tracer.stack or tracer.stack[-1].name not in (
                    "query_eval", "incremental.search_query"):
                return parse(query)  # the benchmark's and oracle's own
            with tracer.span("query_parser.parse", group=False):
                return parse(query)

        IndexStore.write_stage = traced_write_stage
        query_parser.parse = traced_parse

    @contextlib.contextmanager
    def span(self, name: str, group: bool = True, **meta):
        if not self.enabled:
            yield None
            return
        parent = self.stack[-1] if self.stack else None
        gid = f"{name}#{len(self.spans)}" if group else None
        sp = _Span(name, gid, parent, meta)
        self.spans.append(sp)
        self.stack.append(sp)
        if group:
            self.sc.setJobGroup(gid, gid)
        sp.py0 = self._py_cpu(rescan=True) if group else 0.0
        sp.t0 = time.time()
        try:
            yield sp
        finally:
            sp.t1 = time.time()
            sp.py1 = self._py_cpu(rescan=True) if group else 0.0
            self.stack.pop()
            if group:
                outer = next((s for s in reversed(self.stack) if s.gid), None)
                if outer is not None:
                    self.sc.setJobGroup(outer.gid, outer.gid)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def in_group(self, fn):
        """Wrap a callback that Spark runs on another thread (a
        foreachBatch body) so its jobs carry the innermost open span's
        group, looked up when the callback runs."""
        if not self.enabled:
            return fn

        def wrapped(*a, **kw):
            sp = next(s for s in reversed(self.stack) if s.gid)
            self.sc.setJobGroup(sp.gid, sp.gid)
            return fn(*a, **kw)

        return wrapped

    # -- event log ------------------------------------------------------------
    def _py_between(self, t0: float, t1: float) -> float:
        ts = [s[0] for s in self._samples]

        def at(t):
            i = bisect.bisect_left(ts, t)
            if i == 0 or i == len(ts):
                return self._samples[min(i, len(ts) - 1)][1]
            (ta, ca), (tb, cb) = self._samples[i - 1], self._samples[i]
            return ca + (cb - ca) * (t - ta) / max(tb - ta, 1e-9)

        return max(0.0, at(t1) - at(t0))

    def finish(self, event_dir: str) -> Dict[str, float]:
        """Per-layer metrics from the spans and the (closed) event log."""
        self._stop.set()
        self._sampler.join()
        from search_engine_spark.operators import query_eval

        qe_file = os.path.basename(query_eval.__file__)
        phase_of_line = _query_phase_map(query_eval.__file__)
        stale = set(CALL_SITES) - set(phase_of_line.values()) - {(None, None)}
        if stale:
            raise RuntimeError("trace attribution failed: call sites not in "
                               f"{qe_file}: {sorted(stale)}")
        by_gid = {s.gid: s for s in self.spans if s.gid}
        by_gid.update(self.stream_groups)

        jobs: Dict[int, dict] = {}
        stage_job: Dict[int, int] = {}
        job_end: Dict[int, float] = {}
        tasks: List[dict] = []
        # a rolling log is a directory of events_<N>_<app> files
        files = sorted(
            glob.glob(os.path.join(event_dir, "*", "events_*")),
            key=lambda p: int(os.path.basename(p).split("_")[1]),
        ) or glob.glob(os.path.join(event_dir, "*"))
        if not files:
            raise RuntimeError(f"no Spark event log under {event_dir}")
        for path in files:
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev["Event"]
                    if kind == "SparkListenerJobStart":
                        jobs[ev["Job ID"]] = ev
                        for st in ev["Stage IDs"]:
                            stage_job.setdefault(st, ev["Job ID"])
                    elif kind == "SparkListenerJobEnd":
                        job_end[ev["Job ID"]] = ev["Completion Time"] / 1000
                    elif kind == "SparkListenerTaskEnd":
                        tasks.append(ev)

        agg = {s: {f: 0.0 for f in fs} for s, fs in SPANS.items()}
        routes = {r: 0 for r in ROUTES}
        query_funcs: Dict[str, set] = {}
        job_span: Dict[int, str] = {}
        pending: Dict[str, List[int]] = {}
        errors = []

        def count_job(jid, name, phase=False):
            agg[name]["jobs"] += 1
            job_span[jid] = name
            if phase:
                # query phases have no span of their own: their wall and
                # Python CPU are those of their jobs
                t0 = jobs[jid]["Submission Time"] / 1000
                t1 = job_end.get(jid, t0)
                agg[name]["wall_s"] += t1 - t0
                agg[name]["py_cpu_s"] += self._py_between(t0, t1)
        for jid, ev in sorted(jobs.items()):
            props = ev.get("Properties") or {}
            # broadcast jobs run on Spark's own threads, which keep the
            # job description (set to the group id) but not the group
            gid = (props.get("spark.jobGroup.id")
                   or props.get("spark.job.description"))
            sp = by_gid.get(gid)
            site = props.get("callSite.short", "")
            if sp is None:
                errors.append(f"job {jid} ({site}) has no benchmark job group")
                continue
            name = sp.name
            if name == "query_eval":
                if not site:
                    # a broadcast built for the next job of the same call
                    pending.setdefault(gid, []).append(jid)
                    continue
                path, _, line = site.rsplit(" at ", 1)[-1].rpartition(":")
                if os.path.basename(path) == qe_file and line.isdigit():
                    func, target = phase_of_line.get(int(line), ("?", None))
                elif os.path.basename(path) == "workloads.py":
                    func, target = None, None
                else:
                    func, target = "?", None
                phase = CALL_SITES.get((func, target))
                if phase is None:
                    errors.append(f"job {jid} call site {site!r} "
                                  f"({func}, {target}) maps to no query_eval "
                                  "span")
                    continue
                query_funcs.setdefault(gid, set()).add(func)
                name = f"query_eval.{phase}"
                for b in pending.pop(gid, []):
                    count_job(b, name, phase=True)
                count_job(jid, name, phase=True)
            elif name in agg:
                count_job(jid, name)
        errors += [f"jobs {j} have no call site" for j in pending.values()]
        if errors:
            raise RuntimeError("trace attribution failed: " + "; ".join(errors[:5]))

        for ev in tasks:
            name = job_span.get(stage_job.get(ev["Stage ID"]))
            if name is None:
                continue
            m = ev.get("Task Metrics") or {}
            a = agg[name]
            a["tasks"] += 1
            a["jvm_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            a["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}
                                         ).get("Shuffle Bytes Written", 0)
            if "output_bytes" in a:
                a["output_bytes"] += (m.get("Output Metrics") or {}
                                      ).get("Bytes Written", 0)

        # benchmark-bounded spans: self wall and self Python CPU
        for sp in self.spans:
            if sp.name not in agg:  # bench.* and per-query spans
                continue
            kids = [c for c in self.spans if c.parent is sp]
            agg[sp.name]["wall_s"] += (sp.t1 - sp.t0) - sum(
                c.t1 - c.t0 for c in kids)
            if "py_cpu_s" in agg[sp.name]:
                agg[sp.name]["py_cpu_s"] += (sp.py1 - sp.py0) - sum(
                    c.py1 - c.py0 for c in kids)

        for sp in self.spans:
            if sp.name == "query_eval":
                funcs = query_funcs.get(sp.gid, set())
                route = next((r for f, r in _PRUNED.items() if f in funcs),
                             "term_full" if sp.meta.get("single_term")
                             else "full_eval")
                routes[route] += 1

        out = {f"{s}.{f}": v for s, fs in agg.items() for f, v in fs.items()}
        out.update({f"query_eval.route.{r}.queries": n
                    for r, n in routes.items()})
        return out
