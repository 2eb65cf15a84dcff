"""Spans and per-layer numbers for the traced run.

Three sources, all read from the benchmark's own process:

* wrappers around the public entry points called in this process
  (``pipeline.run_extraction_job``, ``pipeline.parse_pages``,
  ``TableIO.append_many``, ``TableIO.committed_keys`` and the
  DataFrame actions they run) record spans;
* Spark's status store gives each operation's jobs and stages (the
  operation runs under its own job group), which become child spans
  and the ``pipeline.*`` numbers;
* the worker's layers run in executor processes, so they are replayed
  here: every distinct payload goes through ``extract_document``,
  ``detect_issuer``, ``parse_document(issuer=...)`` and ``sha256`` and
  each call is timed; sums are scaled by how often the payload occurs.
"""

from __future__ import annotations

import contextlib
import hashlib
import statistics
import time
from typing import List, Optional

ISSUERS = ("generic", "ifb", "valley", "mercury", "pnb", "truist", "wf",
           "citi", "bofa", "chase")


class Tracer:
    """In-memory span log; ``span`` nests by call order."""

    def __init__(self):
        self.spans: List[dict] = []
        self._stack: List[int] = []
        self.op: Optional[str] = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float,
            parent: Optional[int], **attrs) -> int:
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": self.op, "parent": parent,
               "start": start, "end": end}
        rec.update(attrs)
        self.spans.append(rec)
        return sid

    def wrap(self, owner, attr: str, name: str):
        """Replace ``owner.attr`` by a span-recording wrapper; returns
        a function that restores the original."""
        orig = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        return lambda: setattr(owner, attr, orig)


def _opt(scala_option):
    return scala_option.get() if scala_option.isDefined() else None


def _ms(java_date) -> Optional[float]:
    return None if java_date is None else java_date.getTime() / 1000.0


def spark_spans(spark, tracer: Tracer, group: str, parent: int) -> dict:
    """Turn the jobs of ``group`` into job/stage spans under the
    innermost wrapper span that encloses each job; return stage sums
    and the task durations of the longest-running stage."""
    from py4j.protocol import Py4JJavaError

    jsc = spark.sparkContext._jsc.sc()
    store = jsc.statusStore()
    tracker = spark.sparkContext.statusTracker()
    sums = {"tasks": 0, "run_s": 0.0, "jvm_cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0, "jobs": 0}
    heaviest = None  # (run_s, stage_id, attempt)
    enclosing = [s for s in tracer.spans
                 if s["op"] == tracer.op and s["end"] is not None]
    for jid in sorted(tracker.getJobIdsForGroup(group)):
        job = store.job(jid)
        start, end = _ms(_opt(job.submissionTime())), \
            _ms(_opt(job.completionTime()))
        if start is None or end is None:
            continue
        # deepest wrapper span that contains the job's submission
        host = parent
        for s in enclosing:
            if s["start"] <= start <= s["end"] and s["id"] > host:
                host = s["id"]
        sums["jobs"] += 1
        jspan = tracer.add("spark.job", start, end, host, job_id=jid)
        stage_ids = job.stageIds()
        for k in range(stage_ids.size()):
            sid = stage_ids.apply(k)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped stage: never attempted
                continue
            s0, s1 = _ms(_opt(st.submissionTime())), \
                _ms(_opt(st.completionTime()))
            if s0 is None or s1 is None:
                continue
            run_s = st.executorRunTime() / 1000.0
            tracer.add("spark.stage", s0, s1, jspan, stage_id=sid,
                       tasks=st.numCompleteTasks(), run_s=run_s)
            sums["tasks"] += st.numCompleteTasks()
            sums["run_s"] += run_s
            sums["jvm_cpu_s"] += st.executorCpuTime() / 1e9
            sums["gc_s"] += st.jvmGcTime() / 1000.0
            sums["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
            sums["shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
            if heaviest is None or run_s > heaviest[0]:
                heaviest = (run_s, sid, st.attemptId())
    durations: List[float] = []
    if heaviest is not None:
        tasks = store.taskList(heaviest[1], heaviest[2], 1 << 30)
        for k in range(tasks.size()):
            d = _opt(tasks.apply(k).duration())
            if d is not None:
                durations.append(d / 1000.0)
    sums["map_stage_run_s"] = heaviest[0] if heaviest else 0.0
    sums["task_durations"] = durations
    return sums


def covered_seconds(tracer: Tracer, root: int) -> float:
    """Seconds of span ``root``'s wall time covered by the union of
    its descendants."""
    r = tracer.spans[root]
    kids = {root}
    ivals = []
    for s in tracer.spans[root + 1:]:
        if s["parent"] in kids:
            kids.add(s["id"])
            ivals.append((max(s["start"], r["start"]),
                          min(s["end"], r["end"])))
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(ivals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered


def replay(bases, weights: List[int]) -> dict:
    """Time the worker's layers on each distinct payload in this
    process; ``weights[i]`` = how often base ``i`` is offered."""
    from pdf_parser_spark.engine.detect import detect_issuer
    from pdf_parser_spark.engine.document import parse_document
    from pdf_parser_spark.engine.textrules import split_lines
    from pdf_parser_spark.pdfio.extract import extract_document

    out = {"pdfio.extract_s": 0.0, "pdfio.extract_max_doc_s": 0.0,
           "pdfio.text_mb": 0.0, "pdfio.errors": 0,
           "engine.detect_s": 0.0, "engine.parse_s": 0.0,
           "engine.parse_max_doc_s": 0.0, "engine.lines": 0,
           "engine.txs": 0, "pipeline.sha256_s": 0.0}
    for issuer in ISSUERS:
        out["engine.parse_s." + issuer] = 0.0
    for base, w in zip(bases, weights):
        if w == 0:
            continue
        text = base.text
        if base.payload is not None:
            t0 = time.perf_counter()
            doc = extract_document(base.payload)
            dt_ = time.perf_counter() - t0
            text = doc.text
            out["pdfio.extract_s"] += dt_ * w
            out["pdfio.extract_max_doc_s"] = max(
                out["pdfio.extract_max_doc_s"], dt_)
            out["pdfio.text_mb"] += len(text.encode("utf-8")) / 1e6 * w
            out["pdfio.errors"] += (doc.error is not None) * w
        t0 = time.perf_counter()
        issuer = detect_issuer(text)
        out["engine.detect_s"] += (time.perf_counter() - t0) * w
        t0 = time.perf_counter()
        _, txs = parse_document(text, base.warc_ts.year, issuer=issuer)
        dt_ = time.perf_counter() - t0
        out["engine.parse_s"] += dt_ * w
        key = "engine.parse_s." + issuer
        out[key] = out.get(key, 0.0) + dt_ * w
        out["engine.parse_max_doc_s"] = max(out["engine.parse_max_doc_s"],
                                            dt_)
        out["engine.lines"] += len(split_lines(text)) * w
        out["engine.txs"] += len(txs) * w
        t0 = time.perf_counter()
        hashlib.sha256((text or "").encode("utf-8")).hexdigest()
        out["pipeline.sha256_s"] += (time.perf_counter() - t0) * w
    out["engine.us_per_line"] = (out["engine.parse_s"] * 1e6
                                 / max(out["engine.lines"], 1))
    return out


def task_stats(durations: List[float]) -> dict:
    if not durations:
        return {"pipeline.task_median_s": 0.0, "pipeline.task_max_s": 0.0,
                "pipeline.task_skew": 0.0}
    med = statistics.median(durations)
    return {"pipeline.task_median_s": med,
            "pipeline.task_max_s": max(durations),
            "pipeline.task_skew": max(durations) / med if med else 0.0}
