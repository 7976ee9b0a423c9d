"""The benchmark's arithmetic: percentiles, interval unions, self time,
driver gaps, and the per-layer metrics derived from a trace."""
import statistics


def tail(samples, beyond=10):
    """The highest percentile with at least `beyond` samples above it.

    Returns (value, percentile, n). With n sorted samples, the sample at
    1-based rank r has n - r samples beyond it, so the tail is rank
    n - beyond at percentile 100 * (n - beyond) / n. With `beyond` or
    fewer samples no percentile qualifies; the maximum is returned with
    percentile 100.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= beyond:
        return xs[-1], 100.0, n
    r = n - beyond
    return xs[r - 1], 100.0 * r / n, n


def median(samples):
    return statistics.median(samples) if samples else 0.0


def report_latencies(queries, seconds):
    """The report latency samples of one run, from one (query, seconds)
    pair per timed call. A run of one query repeated gives its calls. A
    run that mixes queries gives each query's median, one sample per
    query: each report then weighs the same however often it ran, and
    one slow call moves only its own query's median."""
    by_query = {}
    for q, s in zip(queries, seconds):
        by_query.setdefault(q, []).append(s)
    if len(by_query) <= 1:
        return list(seconds)
    return [statistics.median(v) for v in by_query.values()]


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, start, end):
    """The parts of `intervals` inside [start, end]."""
    return [(max(s, start), min(e, end)) for s, e in intervals if e > start and s < end]


def self_time(span, children):
    """A span's duration minus the union of its children inside it."""
    kids = clip([(c["start"], c["end"]) for c in children], span["start"], span["end"])
    return (span["end"] - span["start"]) - union_length(kids)


def driver_gap(start, end, jobs):
    """Wall time of [start, end] in which no job was running."""
    return (end - start) - union_length(clip([(j["start"], j["end"]) for j in jobs], start, end))


class Trace:
    """Indexes a trace written by the harness (see `Trace.scala`)."""

    def __init__(self, t):
        self.spans = {s["id"]: s for s in t["spans"]}
        self.children = {}
        for s in t["spans"]:
            self.children.setdefault(s["parent"], []).append(s)
        self.jobs = t["jobs"]
        self.planning = t["planning"]
        self.progress = t["progress"]
        self.run = next(s for s in t["spans"] if s["name"] == "run")
        # jobs carry the id of the innermost span open in the thread that
        # submitted them; a streaming micro-batch's jobs, submitted from
        # the query's own thread, may carry none and are attributed to
        # the drain span whose interval holds them
        drains = [s for s in t["spans"] if s["name"] == "streaming.drain"]
        for j in self.jobs:
            if j["span"] == 0:
                d = next((d for d in drains if d["start"] <= j["start"] <= d["end"]), None)
                if d:
                    j["span"] = d["id"]
        self.jobs_of = {}
        for j in self.jobs:
            self.jobs_of.setdefault(j["span"], []).append(j)

    def descendants(self, span):
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children.get(s["id"], []))
        return out

    def measured(self, name):
        """Spans called `name` inside the measured phase."""
        return [s for s in self.descendants(self.run) if s["name"] == name]

    def jobs_under(self, span):
        return [j for d in self.descendants(span) for j in self.jobs_of.get(d["id"], [])]

    def in_run(self, t):
        return self.run["start"] <= t <= self.run["end"]


def span_summary(raw):
    """Per span name over the measured phase: calls, wall and self time,
    jobs attributed, and driver gap (wall time with no job running)."""
    t = Trace(raw["trace"])
    out = {}
    for s in t.descendants(t.run):
        if s is t.run:
            continue
        row = out.setdefault(s["name"], {"calls": 0, "wall_s": 0.0, "self_s": 0.0,
                                         "jobs": 0, "gap_s": 0.0})
        row["calls"] += 1
        row["wall_s"] += s["end"] - s["start"]
        row["self_s"] += self_time(s, t.children.get(s["id"], []))
        row["jobs"] += len(t.jobs_of.get(s["id"], []))
        row["gap_s"] += driver_gap(s["start"], s["end"], t.jobs_under(s))
    return out


def per_layer(raw, batches):
    """Per-layer metrics of one traced run; `batches` is the number of
    batches landed in the measured phase."""
    t = Trace(raw["trace"])
    counts = raw["counts"]
    m = {}

    def mean_wall(name):
        ss = t.measured(name)
        return sum(s["end"] - s["start"] for s in ss) / len(ss) if ss else 0.0

    def mean_jobs(names):
        ss = [s for n in names for s in t.measured(n)]
        return sum(len(t.jobs_under(s)) for s in ss) / len(ss) if ss else 0.0

    run_jobs = t.jobs_under(t.run)
    per_batch = max(batches, 1)
    m["ingest.csv_rows"] = sum(int(j["csv_rows"]) for j in run_jobs)
    m["ingest.csv_bytes"] = sum(int(j["csv_bytes"]) for j in run_jobs)

    m["state.upsert_s"] = mean_wall("state.upsert")
    m["state.upsert_jobs"] = mean_jobs(["state.upsert"])
    m["state.versions_written"] = counts.get("state.versions_written", 0.0)
    landed = counts.get("landed_bytes", 0.0)
    m["state.bytes_written_per_input_byte"] = (
        counts.get("state.bytes_written", 0.0) / landed if landed else 0.0)
    m["state.live_bytes"] = raw["live_bytes"]
    m["state.vacuum_s"] = mean_wall("state.vacuum")
    m["state.versions_reclaimed"] = counts.get("state.versions_reclaimed", 0.0)
    m["state.bytes_reclaimed"] = counts.get("state.bytes_reclaimed", 0.0)
    m["state.compact_s"] = mean_wall("state.compact")
    reads = [s for n in ("state.history", "state.current") for s in t.measured(n)]
    m["state.history_s"] = sum(s["end"] - s["start"] for s in reads)
    m["state.read_jobs"] = sum(len(t.jobs_under(s)) for s in reads)

    drains = t.measured("streaming.drain")
    add = sum(p["add_batch_s"] for p in t.progress
              if any(d["start"] <= p["at"] <= d["end"] + 0.5 for d in drains))
    m["streaming.drain_s"] = mean_wall("streaming.drain")
    m["streaming.add_batch_s"] = add / len(drains) if drains else 0.0
    m["streaming.fixed_s"] = m["streaming.drain_s"] - m["streaming.add_batch_s"]
    m["streaming.files_per_drain"] = (
        counts.get("streaming.files_drained", 0.0) / len(drains) if drains else 0.0)

    folds = t.measured("fold.resume")
    fold_jobs = [j for f in folds for j in t.jobs_under(f)]
    m["fold.s"] = mean_wall("fold.resume")
    m["fold.steps"] = counts.get("fold.steps", 0.0)
    m["fold.jobs"] = len(fold_jobs) / len(folds) if folds else 0.0
    m["fold.shuffle_bytes"] = (
        sum(int(j["shuffle_bytes"]) for j in fold_jobs) / len(folds) if folds else 0.0)
    changed = counts.get("fold.changed_keys", 0.0)
    m["fold.input_rows_per_changed_key"] = (
        sum(int(j["input_rows"]) for j in fold_jobs) / changed if changed and folds else 0.0)

    m["schemasync.sync_s"] = mean_wall("schemasync.sync")
    for name in REPORTS:
        m[f"reports.{name}_s"] = mean_wall(f"reports.{name}")
    m["reports.jobs"] = mean_jobs(["reports." + n for n in REPORTS + EXTRA_QUERIES])

    # the driver metrics follow the ingest path: the measured phase's
    # top-level calls other than report queries
    ops = [s for s in t.children.get(t.run["id"], []) if not s["name"].startswith("reports.")]
    op_jobs = [j for s in ops for j in t.jobs_under(s)]
    busy_iv = union_length([(s["start"], s["end"]) for s in ops])
    job_iv = union_length([iv for s in ops for iv in clip(
        [(j["start"], j["end"]) for j in t.jobs_under(s)], s["start"], s["end"])])
    m["driver.jobs_per_batch"] = len(op_jobs) / per_batch
    m["driver.gap_s"] = (busy_iv - job_iv) / per_batch
    m["driver.planning_s"] = sum(p["planning_s"] for p in t.planning if t.in_run(p["end"])) / per_batch
    wall = t.run["end"] - t.run["start"]
    m["driver.task_busy_ratio"] = (
        sum(j["busy_s"] for j in run_jobs) / (raw["cores"] * wall) if wall > 0 else 0.0)
    m["jvm.gc_s"] = raw["gc_s"]
    lat = raw["gen_lateness_s"]
    m["gen.lateness_s"] = max(lat) if lat else 0.0
    m["gen.stage_s"] = median(raw["gen_stage_s"])
    return m


REPORTS = ["revenue_per_product", "low_stock", "orders_per_month",
           "revenue_per_category", "inventory_status", "most_sold_per_category"]
EXTRA_QUERIES = ["maintained_product"]
