"""Seeded input generators for the benchmark workloads.

The program under test sees only the page parquet ``(page_id, url, warc_ts,
html, lang)``; the truth (``entity_id`` and the clean ``text``) stays in the
benchmark process.

``planted_pages`` re-implements ``entity_matchers_spark.corpus.web_pages``
without Spark: at seed 0 it reproduces that table row for row, and a seed
``s`` shifts the entity ids by ``(s % SEED_SLOTS) * SEED_STRIDE`` so every
cell (all of them are md5 functions of the entity id) changes while the
distribution does not. The slots keep ``warc_ts`` (17 s per page id) inside
the range a pandas timestamp can hold.
"""

from __future__ import annotations

import hashlib
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
    "xray yankee zulu amber basil cedar dahlia elm fern grove hazel iris jade "
    "kelp lotus maple nettle olive pine quartz rose sage thyme umber violet "
    "willow yarrow zephyr"
).split()
DOMAINS = [f"site{i}.example.com" for i in range(40)]
LANGS = ["en", "en", "en", "en", "en", "en", "fr", "de", "ja"]
EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)

PLANTED_STRIDE = 8  # corpus.MAX_VARIANTS: page_id = entity_id * 8 + variant
SEED_STRIDE = 500  # entity-id offset per seed: at most this many entities
SEED_SLOTS = 80_000

PAGE_SCHEMA = pa.schema(
    [
        ("page_id", pa.int64()),
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("lang", pa.string()),
    ]
)


def _h(*parts: object) -> int:
    key = ":".join(str(p) for p in parts).encode()
    return int.from_bytes(hashlib.md5(key).digest()[:8], "big")


def _entity_tokens(entity_id: int) -> tuple[str, list[str]]:
    name = f"entity-{_h(entity_id, 'name') % (1 << 32):08x} " + " ".join(
        VOCAB[_h(entity_id, "nw", i) % len(VOCAB)] for i in range(2)
    )
    n_body = 12 + _h(entity_id, "len") % 9
    return name, [VOCAB[_h(entity_id, "body", i) % len(VOCAB)] for i in range(n_body)]


def _variant_text(entity_id: int, variant: int) -> str:
    name, body = _entity_tokens(entity_id)
    if variant > 0:
        del body[_h(entity_id, variant, "drop") % len(body)]
        i = _h(entity_id, variant, "s1") % len(body)
        j = _h(entity_id, variant, "s2") % len(body)
        body[i], body[j] = body[j], body[i]
        if _h(entity_id, variant, "case") % 3 == 0:
            name = name.upper()
    return name + " " + " ".join(body)


def _escape(t: str) -> str:
    return t.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _render_html(text: str, page_id: int) -> bytes:
    noise = f"{_h(page_id, 'noise') % (1 << 24):06x}"
    return (
        f'<html><head><title>{_escape(text[:40])}</title><meta charset="utf-8"/></head>'
        f'<body data-noise="{noise}"><nav>skip {noise}</nav>'
        f'<p class="main">{_escape(text)}</p>'
        f'<div class="footer">generated {noise}</div></body></html>'
    ).encode("utf-8")


def _page(entity_id: int, variant: int, stride: int, text: str, domain: str) -> dict:
    page_id = entity_id * stride + variant
    slug = text[: text.find(" ")] + f"-v{variant}"
    return {
        "page_id": page_id,
        "entity_id": entity_id,
        "url": f"https://{domain}/{slug}",
        "warc_ts": EPOCH + timedelta(seconds=17 * page_id),
        "html": _render_html(text, page_id),
        "text": text,
        "lang": LANGS[_h(entity_id, "lang") % len(LANGS)],
    }


def planted_pages(num_entities: int, seed: int) -> list[dict]:
    """``corpus.web_pages`` rows (with truth columns) for entities
    ``(seed % SEED_SLOTS) * SEED_STRIDE + [0, num_entities)``: ~30%
    singletons, 2-6 pages per other entity, Zipf-skewed domains."""
    if num_entities > SEED_STRIDE:
        raise ValueError(f"at most {SEED_STRIDE} entities per seed")
    rows = []
    base = (seed % SEED_SLOTS) * SEED_STRIDE
    for entity_id in range(base, base + num_entities):
        h = int(hashlib.md5(f"{entity_id}:nv".encode()).hexdigest()[:8], 16)
        n_variants = 1 if h % 10 < 3 else 2 + h % 5
        for variant in range(n_variants):
            u = (_h(entity_id, variant, "dom") % 10_000) / 10_000.0
            domain = DOMAINS[int(u * u * len(DOMAINS))]
            text = _variant_text(entity_id, variant)
            rows.append(_page(entity_id, variant, PLANTED_STRIDE, text, domain))
    return rows


def planted_corpus(min_pages: int, seed: int) -> list[dict]:
    """The first whole entities of ``planted_pages(SEED_STRIDE, seed)`` that
    make up at least ``min_pages`` pages, so every seed gives the same input
    size to within one entity (at most 5 pages over)."""
    rows = planted_pages(SEED_STRIDE, seed)
    last = rows[min_pages - 1]["entity_id"]
    return [r for r in rows if r["entity_id"] <= last]


def write_pages(rows: list[dict], path: str) -> None:
    """Write the program's input parquet: page columns only, no truth."""
    cols = {f.name: [r[f.name] for r in rows] for f in PAGE_SCHEMA}
    pq.write_table(pa.table(cols, schema=PAGE_SCHEMA), path)
