"""Output checks that feed ``fail_share``.

A row fails when its output differs from what its input row expects
(see ``workloads.py``), when it comes back ``parse_error``, or when the
Spark output and the single-threaded kernel pass disagree on any
kernel-computed column. Missing and unexpected rows fail too.
"""

from __future__ import annotations

import hashlib
import json

from go_trafilatura_spark.kernel import OUTPUT_COLUMNS

# Columns the kernel computes; url, warc_ts and lang pass through.
COMPUTED = [c for c in OUTPUT_COLUMNS if c not in ("url", "warc_ts", "lang")]


def rows_by_url(table) -> dict[str, tuple]:
    """url -> tuple of COMPUTED values, from an Arrow table."""
    cols = [table.column(c).to_pylist() for c in COMPUTED]
    return {u: tuple(col[i] for col in cols)
            for i, u in enumerate(table.column("url").to_pylist())}


def row_set_hash(rows) -> str:
    """Order-independent digest of an iterable of JSON-serialisable rows."""
    h = hashlib.sha256()
    for line in sorted(json.dumps(r, sort_keys=True, default=str) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def extracted_hash(by_url: dict[str, tuple]) -> str:
    return row_set_hash([u, *v] for u, v in by_url.items())


TEXT = COMPUTED.index("content_text")
REASON = COMPUTED.index("reject_reason")


def check_extracted(got: dict[str, tuple], expect: dict[str, tuple],
                    reference: dict[str, tuple] | None = None) -> list[str]:
    """Failure descriptions, one per failing url. ``reference`` is the
    single-threaded kernel pass's output over the same input."""
    failures = []
    for url, want in expect.items():
        row = got.get(url)
        if row is None:
            failures.append(f"{url}: missing from output")
            continue
        reason = row[REASON]
        if reason == "parse_error":
            failures.append(f"{url}: parse_error")
        elif want[0] == "golden" and (reason is not None or row[TEXT] != want[1]):
            failures.append(f"{url}: differs from golden (reject={reason})")
        elif want[0] == "reject" and reason != want[1]:
            failures.append(f"{url}: reject_reason {reason!r}, want {want[1]!r}")
        elif reference is not None and reference.get(url) != row:
            failures.append(f"{url}: Spark and single-thread outputs differ")
    failures += [f"{u}: unexpected row" for u in got.keys() - expect.keys()]
    return failures


def check_texts(texts: dict[str, str], expect: dict[str, tuple]) -> list[str]:
    """Extracted text of accepted rows against the golden table."""
    failures = [f"{u}: missing from extraction" for u, w in expect.items()
                if w[0] == "golden" and u not in texts]
    failures += [f"{u}: text differs from golden" for u, t in texts.items()
                 if expect.get(u, ("?",))[0] != "golden" or expect[u][1] != t]
    return failures
