"""Seeded hostile rows for the ``extract_hostile`` workload.

Two kinds of row replace a deterministic share of the fixture pages:

- *adversarial pages*: markup shapes whose extraction cost grows faster
  than their size today. Each shape comes at sizes n and 2n, so the
  ratio time(2n)/time(n) measures how per-document cost scales:

  - ``deep``: n nested ``<div>`` elements around a short article;
  - ``links``: one paragraph holding a run of n sibling ``<a>`` links;
  - ``unclosed``: n ``<b>`` tags that are never closed.

- *junk rows*: rows the kernel's screens must reject before parsing:

  - ``null``: html is NULL (expected ``null_html``);
  - ``not_html``: JSON, plain text and binary payloads with no ``<`` in
    their first 512 bytes (expected ``not_html``);
  - ``oversized``: markup just over the kernel's default
    ``max_html_bytes`` (expected ``oversized``).

Every row carries its expected outcome: ``("reject", reason)`` for junk
rows and ``("parity", shape)`` for adversarial pages, whose output must
equal a single-threaded, Spark-free pass over the same bytes.
"""

from __future__ import annotations

import random

# Sizes n per shape; each is also emitted at 2n. Measured single-threaded
# with fallback on, on a 4-core x86 host: deep 0.14 / 0.17 s, links
# 0.25 / 0.72 s, unclosed 0.15 / 0.58 s at n / 2n, about 2.0 s in all,
# about as much as the 780 fixture pages beside them on 4 cores. The
# traced run reports the share as hostile.adversarial_share (0.52 at
# seed 7).
SHAPE_SIZES = {"deep": 500, "links": 2000, "unclosed": 2000}
NOT_HTML_ROWS = 6
NULL_ROWS = 6
OVERSIZED_ROWS = 2

_WORDS = (
    "the and for are but not you all can was one our out day get has how "
    "new now old see two way who did its let put say she use that with "
    "have this will your from they know want been good much some time "
    "very when come here just like long make many more only over such "
    "take than them well were what work year about after again before "
    "great house large small sound still study world below country school"
).split()


def _sentence(rng: random.Random, n_words: int = 10) -> str:
    s = " ".join(rng.choice(_WORDS) for _ in range(n_words))
    return s[0].upper() + s[1:] + "."


def _article(rng: random.Random) -> str:
    return "".join(
        f"<p>{_sentence(rng, 12)} {_sentence(rng, 12)} {_sentence(rng, 12)}</p>"
        for _ in range(3)
    )


def _wrap(title: str, body: str) -> str:
    return (
        '<!DOCTYPE html><html lang="en"><head><meta charset="utf-8">'
        f"<title>{title}</title></head><body>{body}</body></html>"
    )


def deep_page(rng: random.Random, n: int) -> bytes:
    body = "<div>" * n + f"<article>{_article(rng)}</article>" + "</div>" * n
    return _wrap(_sentence(rng, 5), body).encode("utf-8")


def links_page(rng: random.Random, n: int) -> bytes:
    run = " ".join(
        f'<a href="/tag/{i}">{rng.choice(_WORDS)} {i}</a>' for i in range(n)
    )
    body = f"<article>{_article(rng)}<p>{run}</p></article>"
    return _wrap(_sentence(rng, 5), body).encode("utf-8")


def unclosed_page(rng: random.Random, n: int) -> bytes:
    run = "".join(f"<b>{rng.choice(_WORDS)} " for _ in range(n))
    body = f"<article>{_article(rng)}<p>{run}</p></article>"
    return _wrap(_sentence(rng, 5), body).encode("utf-8")


SHAPES = {"deep": deep_page, "links": links_page, "unclosed": unclosed_page}


def _not_html(rng: random.Random, i: int) -> bytes:
    kind = i % 3
    if kind == 0:
        words = " ".join(rng.choice(_WORDS) for _ in range(40))
        return ('{"id": %d, "text": "%s", "score": %d}'
                % (rng.randrange(10**6), words, rng.randrange(100))).encode()
    if kind == 1:
        return (" ".join(_sentence(rng) for _ in range(20))).encode()
    # Binary payload with no "<" byte anywhere.
    return bytes(b if b != 0x3C else 0x3D
                 for b in rng.randbytes(2048))


def _oversized(rng: random.Random, max_html_bytes: int) -> bytes:
    para = f"<p>{_sentence(rng, 16)}</p>".encode()
    head = _wrap(_sentence(rng, 5), "").encode()
    reps = (max_html_bytes - len(head)) // len(para) + 2
    return head[:-14] + para * reps + b"</body></html>"


class HostileRow:
    """One generated row: ``html`` is bytes or None; ``expect`` is
    ``("reject", reason)`` or ``("parity", shape)``; ``size`` is the
    shape size n or 2n for adversarial rows. ``url`` depends on the
    kind, size and ordinal (junk rows of one kind are numbered) only,
    not on the seed, so the partition a hostile row hashes to is the
    same for every seed."""

    __slots__ = ("kind", "html", "expect", "size", "url")

    def __init__(self, kind, html, expect, size=0, ordinal=0):
        self.kind = kind
        self.html = html
        self.expect = expect
        self.size = size
        self.url = f"https://{kind.replace('_', '-')}.example.org/{size}/{ordinal}"


def generate(seed: int, max_html_bytes: int) -> list[HostileRow]:
    """All hostile rows for one seed, in a seed-shuffled order."""
    rng = random.Random(seed * 7919 + 17)
    rows: list[HostileRow] = []
    for shape, n in SHAPE_SIZES.items():
        for size in (n, 2 * n):
            rows.append(HostileRow(shape, SHAPES[shape](rng, size),
                                   ("parity", shape), size))
    rows += [HostileRow("null", None, ("reject", "null_html"), ordinal=k)
             for k in range(NULL_ROWS)]
    rows += [HostileRow("not_html", _not_html(rng, k), ("reject", "not_html"),
                        ordinal=k)
             for k in range(NOT_HTML_ROWS)]
    rows += [HostileRow("oversized", _oversized(rng, max_html_bytes),
                        ("reject", "oversized"), ordinal=k)
             for k in range(OVERSIZED_ROWS)]
    rng.shuffle(rows)
    return rows
