"""Seeded inputs, expectations and output checks for the extraction
workloads.

Both workloads feed ``pipeline.run_extraction_job`` a ``pages`` table
(url, warc_ts, html, text, lang) built from the fixture corpus:

* ``extract_mega_mix``: every fixture (the 33 small statements plus the
  wf, chase and bofa mega statements) in its cycled pdf/html/text mode,
  ``replicas`` times, into an empty table.
* ``extract_small_resume``: the 33 small fixtures, each rendered both as
  PDF and as HTML, ``replicas`` times, into a table that already holds
  a seeded half of those urls.

The seed picks the url salts, the row order and the pre-committed half;
the program sees only the generated rows.  Expectations come from the
same payloads parsed in this process, and the fixtures are also checked
against the reference goldens in ``tests/golden/expected_tx.json``.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import hashlib
import json
import os
import random
from typing import Dict, List, Optional, Tuple

WORKLOADS = ("extract_mega_mix", "extract_small_resume")

# replicas of the base corpus per workload at benchmark size
REPLICAS = {"extract_mega_mix": 2, "extract_small_resume": 30}

# salted input sets per run; operation k runs set k mod n.  The salts
# decide which shuffle partition each mega statement lands in, so the
# mega workload's median spans several placements instead of one.  The
# resume workload has no skew and keeps one pre-committed table.
VARIANTS = {"extract_mega_mix": 3, "extract_small_resume": 1}

_MODES = ("pdf", "html", "text")


@dataclasses.dataclass
class Base:
    """One distinct payload: a fixture document in one rendering."""
    url: str          # the fixture's url
    mode: str         # pdf | html | text
    warc_ts: dt.datetime
    lang: str
    payload: Optional[bytes]
    text: Optional[str]


@dataclasses.dataclass
class Expect:
    """What the committed doc_metrics row of a base must hold."""
    bank: str
    text_sha256: str
    tx_count: int
    error_class: Optional[str]


@dataclasses.dataclass
class Inputs:
    rows: List[tuple]                 # pages rows, in offered order
    base_of: Dict[str, int]           # url → index into bases
    bases: List[Base]
    precommitted: List[tuple]         # rows already in the target table
    payload_bytes: int                # offered payload bytes

    @property
    def new_urls(self) -> int:
        return len(self.rows) - len(self.precommitted)

    def one_replica(self) -> List[tuple]:
        """The first offered row of every base, in offered order."""
        seen, out = set(), []
        for row in self.rows:
            b = self.base_of[row[0]]
            if b not in seen:
                seen.add(b)
                out.append(row)
        return out


def _render(doc: dict, index: int, mode: str) -> Base:
    from pdf_parser_spark.pdfio.html_extract import text_to_html
    from pdf_parser_spark.pdfio.writer import text_to_pdf

    payload: Optional[bytes] = None
    text: Optional[str] = None
    if mode == "pdf":
        payload = text_to_pdf(doc["text"], compress=True,
                              objstm=(index % 2 == 0))
    elif mode == "html":
        payload = text_to_html(doc["text"], title=doc["url"])
    else:
        text = doc["text"]
    return Base(doc["url"], mode, doc["warc_ts"].replace(tzinfo=None),
                doc["lang"], payload, text)


def render_bases(workload: str) -> List[Base]:
    """The distinct payloads a workload replicates."""
    from pdf_parser_spark.fixtures import fixture_docs

    docs = fixture_docs()
    if workload == "extract_mega_mix":
        return [_render(d, i, _MODES[i % 3]) for i, d in enumerate(docs)]
    if workload == "extract_small_resume":
        small = [d for d in docs if not d["url"].endswith("/mega")]
        return [_render(d, i, mode) for i, d in enumerate(small)
                for mode in ("pdf", "html")]
    raise ValueError("unknown workload %r" % workload)


def generate(workload: str, seed: int, replicas: int,
             bases: List[Base], variant: int = 0) -> Inputs:
    """Salted, shuffled pages rows plus the pre-committed subset."""
    rng = random.Random("%s/%d/%d" % (workload, seed, variant))
    rows, base_of = [], {}
    for rep in range(replicas):
        for b, base in enumerate(bases):
            url = "%s?m=%s&r=%d&s=%08x" % (base.url, base.mode, rep,
                                           rng.getrandbits(32))
            base_of[url] = b
            rows.append((url, base.warc_ts, base.payload, base.text,
                         base.lang))
    rng.shuffle(rows)
    pre: List[tuple] = []
    if workload == "extract_small_resume":
        pre = rng.sample(rows, len(rows) // 2)
    payload = sum(len(r[2] or b"") + len((r[3] or "").encode("utf-8"))
                  for r in rows)
    return Inputs(rows, base_of, bases, pre, payload)


def pages_frame(spark, rows: List[tuple]):
    """The pages DataFrame of ``rows``, shipped to the JVM as Arrow."""
    import pandas as pd
    from pdf_parser_spark.pages_source import PAGES_SCHEMA

    frame = pd.DataFrame(rows, columns=PAGES_SCHEMA.names)
    return spark.createDataFrame(frame, schema=PAGES_SCHEMA)


def error_class(error: Optional[str]) -> Optional[str]:
    return None if error is None else error.split(":", 1)[0]


def expect_base(base: Base) -> Tuple[Expect, list]:
    """Parse one base payload in this process, as the worker does."""
    from pdf_parser_spark.engine.document import parse_document
    from pdf_parser_spark.pdfio.extract import extract_document

    error = None
    if base.payload is not None:
        doc = extract_document(base.payload)
        text, error = doc.text, doc.error
    else:
        text = base.text
    try:
        bank, txs = parse_document(text, base.warc_ts.year)
    except Exception as exc:  # the worker's poison-doc rule
        bank, txs = "error", []
        error = "%s: %s" % (type(exc).__name__, exc)
    sha = hashlib.sha256((text or "").encode("utf-8")).hexdigest()
    return Expect(bank, sha, len(txs), error_class(error)), txs


def load_golden(repo: str) -> dict:
    with open(os.path.join(repo, "tests", "golden",
                           "expected_tx.json")) as fh:
        return json.load(fh)


def golden_for(golden: dict, url: str) -> Optional[dict]:
    """The pipeline's golden: the detection variant where one exists."""
    return golden.get(url + "#detected", golden.get(url))


def same_txs(got: List[tuple], want: dict) -> bool:
    """``got`` = [(bank, date, description, amount, direction)] in
    tx_index order; amounts compare by repr (bit-identical)."""
    return got == [(want["bank"], t["date"], t["description"],
                    repr(float(t["amount"])), t["direction"])
                   for t in want["txs"]]


def expectations(bases: List[Base], golden: dict
                 ) -> Tuple[List[Expect], List[str]]:
    """Per-base expectations, and the base urls whose in-process parse
    disagrees with the goldens."""
    out, bad = [], []
    for base in bases:
        exp, txs = expect_base(base)
        out.append(exp)
        want = golden_for(golden, base.url)
        got = [(exp.bank, t["date"], t["description"], repr(t["amount"]),
                t["direction"]) for t in txs]
        if want is not None and not same_txs(got, want):
            bad.append("%s [%s]" % (base.url, base.mode))
    return out, bad


def check_job(spark, io, inputs: Inputs, expects: List[Expect],
              golden: dict, new_docs: int) -> List[str]:
    """Compare a committed table with the expectations; one message
    per mismatching url (or per broken table-level invariant)."""
    from pyspark.sql import functions as F

    errors: List[str] = []
    if new_docs != inputs.new_urls:
        errors.append("committed %d new docs, expected %d"
                      % (new_docs, inputs.new_urls))
    docs = io.read(spark, "doc_metrics").select(
        "url", "bank", "text_sha256", "tx_count", "error").collect()
    seen = set()
    for r in docs:
        b = inputs.base_of.get(r.url)
        if b is None or r.url in seen:
            errors.append("unexpected or duplicate doc %s" % r.url)
            continue
        seen.add(r.url)
        exp = expects[b]
        got = Expect(r.bank, r.text_sha256, r.tx_count,
                     error_class(r.error))
        if got != exp:
            errors.append("doc %s: %s != %s" % (r.url, got, exp))
    missing = len(inputs.base_of) - len(seen)
    if missing:
        errors.append("%d offered docs missing from doc_metrics" % missing)
    txs = io.read(spark, "transactions")
    counts = dict(txs.groupBy("url").count().collect())
    for url, b in inputs.base_of.items():
        if counts.get(url, 0) != expects[b].tx_count:
            errors.append("tx rows of %s: %d != %d"
                          % (url, counts.get(url, 0), expects[b].tx_count))
    # full rows of one replica per golden-covered base
    probe = {}
    for url, b in inputs.base_of.items():
        if golden_for(golden, inputs.bases[b].url) is not None:
            probe.setdefault(b, url)
    rows = (txs.filter(F.col("url").isin(list(probe.values())))
            .select("url", "tx_index", "bank", "date", "description",
                    "amount", "direction").collect())
    by_url: Dict[str, list] = {}
    for r in rows:
        by_url.setdefault(r.url, []).append(r)
    for b, url in probe.items():
        got = [(r.bank, r.date, r.description, repr(r.amount), r.direction)
               for r in sorted(by_url.get(url, []),
                               key=lambda r: r.tx_index)]
        if not same_txs(got, golden_for(golden, inputs.bases[b].url)):
            errors.append("transactions of %s differ from the golden" % url)
    return errors
