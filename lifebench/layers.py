"""Span arithmetic and per-layer metrics for traced iterations.

A traced iteration carries spans (name, layer, parent, start, end in epoch
ms), Spark jobs and stages tagged with the innermost span at submission, and
SQL executions with the path each one writes. Self time of a span is its
duration minus the part its children cover; driver gap is its duration minus
the part its jobs (its own and its descendants') cover.
"""
import re
import statistics

MB = 1048576.0


def union(intervals):
    """Merge (start, end) pairs into sorted, disjoint intervals."""
    out = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [tuple(i) for i in out]


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    return sum(max(0.0, min(b, hi) - max(a, lo)) for a, b in union(intervals))


def self_times(spans):
    """{span id: duration minus the union of its children's intervals}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - covered(kids.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def segments(start, end, marks):
    """Split [start, end] at the end times of labelled marks: each mark
    (label, t) closes a segment that began where the previous one ended;
    consecutive segments with one label merge; what follows the last mark
    is labelled 'tail'. Returns [(label, duration)], summing to end-start."""
    out, prev = [], start
    for label, t in sorted(marks, key=lambda m: m[1]):
        t = min(max(t, prev), end)
        if out and out[-1][0] == label:
            out[-1][1] += t - prev
        else:
            out.append([label, t - prev])
        prev = t
    out.append(["tail", end - prev])
    return [tuple(s) for s in out]


class Iteration:
    """Attribution of one traced iteration's jobs, stages and executions
    to its spans."""

    def __init__(self, trace):
        self.spans = trace["spans"]
        self.by_id = {s["id"]: s for s in self.spans}
        self.root = next(s for s in self.spans if s["parent"] == 0)
        self.jobs = [j for j in trace["jobs"] if j["end"] is not None]
        self.stages = trace["stages"]
        self.execs = {e["id"]: e for e in trace["execs"]}
        for j in self.jobs:
            j["span"] = self._owner(j["span"], j["start"])
        job_span = {j["id"]: j["span"] for j in self.jobs}
        for st in self.stages:
            if st["span"] not in self.by_id:
                st["span"] = job_span.get(st.get("job"), self.root["id"])
        self.exec_span = {}
        for j in self.jobs:
            self.exec_span.setdefault(j["exec"], j["span"])
        self.self_s = {k: v / 1e3 for k, v in self_times(self.spans).items()}

    def _owner(self, tag, t):
        """The span a job belongs to: its tag when that span was open at
        submission, else the innermost span open at that time (threads
        the engine pooled before the span opened carry stale tags)."""
        s = self.by_id.get(tag)
        if s and s["start"] <= t <= s["end"]:
            return tag
        open_ = [s for s in self.spans if s["start"] <= t <= s["end"]]
        return max(open_, key=lambda s: s["start"])["id"] if open_ \
            else self.root["id"]

    def subtree(self, span_id):
        ids, todo = set(), [span_id]
        while todo:
            i = todo.pop()
            ids.add(i)
            todo += [s["id"] for s in self.spans if s["parent"] == i]
        return ids

    def named(self, pattern):
        return [s for s in self.spans if re.fullmatch(pattern, s["name"])]

    def dur_s(self, s):
        return (s["end"] - s["start"]) / 1e3

    def stats(self, ids, stages=None):
        """Spark counters of the jobs and stages owned by span ids."""
        jobs = [j for j in self.jobs if j["span"] in ids]
        st = stages if stages is not None else \
            [x for x in self.stages if x["span"] in ids]
        tasks = sum(x["tasks"] for x in st)
        skews = [x["max_run_ms"] * x["tasks"] / x["run_ms"] for x in st
                 if x["tasks"] > 1 and x["run_ms"] > 0]
        execs = {j["exec"] for j in jobs if j["exec"] >= 0}
        return {
            "jobs": len(jobs),
            "stages": len(st),
            "tasks": tasks,
            "empty_task_ratio": (sum(x["empty_tasks"] for x in st) / tasks
                                 if tasks else 0.0),
            "exec_cpu_s": sum(x["cpu_ns"] for x in st) / 1e9,
            "exec_run_s": sum(x["run_ms"] for x in st) / 1e3,
            "gc_s": sum(x["gc_ms"] for x in st) / 1e3,
            "shuffle_read_mb": sum(x["shuffle_read"] for x in st) / MB,
            "shuffle_write_mb": sum(x["shuffle_write"] for x in st) / MB,
            "spill_mb": sum(x["spill"] for x in st) / MB,
            "task_skew": max(skews) if skews else 1.0,
            "exchanges": sum(self.execs[e]["exchanges"] for e in execs
                             if e in self.execs),
            "records_out": sum(x["records_out"] for x in st),
        }

    def driver_gap_s(self, span):
        ids = self.subtree(span["id"])
        jobs = [(j["start"], j["end"]) for j in self.jobs if j["span"] in ids]
        return (span["end"] - span["start"]
                - covered(jobs, span["start"], span["end"])) / 1e3

    def writes_under(self, span):
        """SQL executions owned by `span` that write a path: [(path, exec)]."""
        ids = self.subtree(span["id"])
        return [(e["path"], e) for i, e in self.execs.items()
                if e["path"] and self.exec_span.get(i) in ids]

    def split_by_output(self, span, label):
        """The span's time split at the end of each write, labelled by
        label(path)."""
        marks = [(label(p), e["end"]) for p, e in self.writes_under(span)
                 if e["end"] is not None]
        return [(k, v / 1e3) for k, v in
                segments(span["start"], span["end"], marks)]

    def span_rows(self):
        """Per-span detail for the layer artifact."""
        rows = []
        for s in self.spans:
            own = self.stats({s["id"]})
            rows.append({"id": s["id"], "parent": s["parent"],
                         "name": s["name"], "layer": s["layer"],
                         "wall_s": self.dur_s(s), "self_s": self.self_s[s["id"]],
                         "driver_gap_s": self.driver_gap_s(s), **own})
        return rows


def _post_load_phase(path):
    m = re.search(r"/post/(.*)$", path)
    rel = m.group(1) if m else path
    if rel.startswith("dcc/orders__staging"):
        return "compact"
    if rel.startswith("dcc/orders"):
        return "merge"
    if rel.startswith("dcc/checks"):
        return "checks"
    if rel.startswith("dcc/stats"):
        return "stats"
    return "transforms"


def _package(path):
    m = re.search(r"/derived/([^/]+)", path)
    return m.group(1) if m else "other"


def per_layer(it_trace, setup, files, counts):
    """Per-layer metrics of one traced iteration.

    `setup` carries set-up timings (session build, index build); `files`
    the iteration's written data files as (path, bytes); `counts` output
    row counts the pipeline metrics report. Metrics of a layer the
    iteration did not run read 0."""
    it = Iteration(it_trace)
    total = it.stats(set(it.by_id))
    m = {"core.session_build_s": setup.get("session_build_s", 0.0)}

    writes = [e for _, e in it.writes_under(it.root) if e["end"] is not None]
    m["core.write_s"] = sum(e["end"] - e["start"] for e in writes) / 1e3
    m["core.write_mb"] = sum(b for _, b in files) / MB
    m["core.files_written"] = len(files)
    m["core.small_files"] = sum(1 for _, b in files if b < 64 * 1024)
    m["core.retained_mb"] = max(it_trace.get("retained_mb_steps") or [0.0])

    def span_s(pattern):
        return sum(it.dur_s(s) for s in it.named(pattern))

    post = it.named("post_load")
    phases = {}
    if post:
        for k, v in it.split_by_output(post[0], _post_load_phase):
            phases[k] = phases.get(k, 0.0) + v
        site_writes = {e["id"] for p, e in it.writes_under(post[0])
                       if _post_load_phase(p) == "transforms"}
        tstages = [x for x in it.stages if x["exec"] in site_writes]
        tstats = it.stats(set(), stages=tstages)
    else:
        tstats = {"exec_cpu_s": 0.0, "records_out": 0}
    m["transforms.wall_s"] = phases.get("transforms", 0.0)
    m["transforms.exec_cpu_s"] = tstats["exec_cpu_s"]
    m["transforms.rows_out"] = tstats["records_out"]
    m["operators.merge_s"] = phases.get("merge", 0.0) + span_s("merge_.*")
    m["operators.compact_s"] = phases.get("compact", 0.0)
    m["operators.checks_s"] = phases.get("checks", 0.0)
    m["operators.stats_s"] = phases.get("stats", 0.0)
    m["operators.eras_s"] = span_s("eras")
    m["operators.obs_period_s"] = span_s("obs_period")
    m["operators.idmap_s"] = span_s(
        "create_id_maps|id_transform|idmap_copy|populate_last_id")

    deriv = it.named("run_derivations")
    pkgs = dict(it.split_by_output(deriv[0], _package)) if deriv else {}
    pkgs.pop("tail", None)
    m["derivations.wall_s"] = span_s("run_derivations")
    m["derivations.slowest_package_s"] = max(pkgs.values(), default=0.0)
    m["derivations.exec_cpu_s"] = (
        it.stats(it.subtree(deriv[0]["id"]))["exec_cpu_s"] if deriv else 0.0)

    m["pipeline.crawl_s"] = span_s("crawl")
    m["pipeline.dedup_s"] = span_s("dedup_.*")
    m["pipeline.quality_s"] = span_s("quality")
    m["pipeline.bpe_train_s"] = span_s("bpe_train")
    m["pipeline.bpe_encode_s"] = span_s("bpe_encode")
    m["pipeline.shard_s"] = span_s("shard_write|certify")
    m["pipeline.docs_admitted"] = counts.get("docs_admitted", 0)
    m["pipeline.dup_pairs"] = counts.get("dup_pairs", 0)

    store_calls = [s for s in it.spans if s["layer"] == "stores"]
    hits = [s for s in store_calls
            if it.stats(it.subtree(s["id"]))["jobs"] == 0]
    m["stores.fill_s"] = sum(it.dur_s(s) for s in store_calls
                             if s not in hits)
    m["stores.hit_s"] = sum(it.dur_s(s) for s in hits)
    m["stores.hit_ratio"] = len(hits) / len(store_calls) if store_calls else 0.0

    def median_ms(pattern):
        d = [it.dur_s(s) * 1e3 for s in it.named(pattern)]
        return statistics.median(d) if d else 0.0

    m["retrieval.index_build_s"] = setup.get("index_build_s", 0.0)
    m["retrieval.bm25_ms"] = median_ms("bm25")
    m["retrieval.ql_ms"] = median_ms("ql")
    m["similarity.ivf_ms"] = median_ms("ivf")

    m["spark.driver_gap_s"] = it.driver_gap_s(it.root)
    for k in ("jobs", "stages", "tasks", "empty_task_ratio", "exec_cpu_s",
              "exec_run_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb",
              "spill_mb", "task_skew", "exchanges"):
        m[f"spark.{k}"] = total[k]

    by_layer = {}
    for s in it.spans:
        by_layer[s["layer"]] = by_layer.get(s["layer"], 0.0) + it.self_s[s["id"]]
    detail = {"spans": it.span_rows(), "self_s_by_layer": by_layer,
              "post_load_by_output_s": phases,
              "derivations_by_package_s": pkgs,
              "self_s_sum": sum(it.self_s.values()),
              "iteration_wall_s": it.dur_s(it.root)}
    return m, detail
