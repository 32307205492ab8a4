"""Seeded inputs and expected outcomes for the benchmark workloads.

Each workload turns ``--seed`` into one pages table with the columns of
the north-rule input (url, warc_ts, html, text, lang) and, per url, the
outcome the checks in ``checks.py`` hold the output to:

- ``("golden", content_text)``: a fixture page; the text predicted by
  ``fixtures.generate_pages``'s golden table;
- ``("reject", reason)``: a junk row the kernel screens must reject;
- ``("parity", shape)``: an adversarial page; Spark output must equal a
  single-threaded, Spark-free pass over the same bytes.
"""

from __future__ import annotations

import datetime
import random

from go_trafilatura_spark import fixtures
from go_trafilatura_spark.kernel import DEFAULT_MAX_HTML_BYTES

import hostile

WORKLOADS = ("extract_hostile", "curate_corpus")

# Fixture pages per local core; the input scales with nproc.
PAGES_PER_CORE = 200

# extract_pages options per workload: the CLI default (fallback on) for
# the extraction workload, the extract_job default for curation.
EXTRACT_OPTIONS = {
    "extract_hostile": {"enable_fallback": True},
    "curate_corpus": {},
}


class Inputs:
    """Column lists of the staged pages table plus per-url expectations."""

    def __init__(self):
        self.url: list[str] = []
        self.warc_ts: list = []
        self.html: list = []
        self.text: list = []
        self.lang: list = []
        self.expect: dict[str, tuple] = {}
        # url -> (shape, size) for adversarial pages.
        self.shape_of: dict[str, tuple] = {}

    def add(self, url, warc_ts, html, text, lang, expect):
        self.url.append(url)
        self.warc_ts.append(warc_ts)
        self.html.append(html)
        self.text.append(text)
        self.lang.append(lang)
        self.expect[url] = expect

    def __len__(self):
        return len(self.url)

    def arrow_table(self):
        import pyarrow as pa

        return pa.table({
            "url": pa.array(self.url, pa.string()),
            "warc_ts": pa.array(self.warc_ts, pa.timestamp("us", tz="UTC")),
            "html": pa.array(self.html, pa.binary()),
            "text": pa.array(self.text, pa.string()),
            "lang": pa.array(self.lang, pa.string()),
        })


def build(workload: str, seed: int, nproc: int) -> Inputs:
    n = PAGES_PER_CORE * nproc
    pages = fixtures.generate_pages(n, seed)
    inputs = Inputs()
    replaced: dict[int, hostile.HostileRow] = {}
    if workload == "extract_hostile":
        rows = hostile.generate(seed, DEFAULT_MAX_HTML_BYTES)
        # Deterministic share of positions, chosen by the seed.
        slots = random.Random(seed).sample(range(n), len(rows))
        replaced = dict(zip(slots, rows))
    base_ts = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    for i, p in enumerate(pages):
        row = replaced.get(i)
        if row is None:
            inputs.add(p.url, p.warc_ts, p.html, p.text, p.lang,
                       ("golden", p.golden["content_text"]))
            continue
        ts = base_ts + datetime.timedelta(seconds=i * 137)
        inputs.add(row.url, ts, row.html, None, "en", row.expect)
        if row.expect[0] == "parity":
            inputs.shape_of[row.url] = (row.kind, row.size)
    return inputs
