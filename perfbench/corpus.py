"""Seeded load generator for the extraction benchmark.

Every corpus is a pure function of (workload spec, seed) and is cached
as parquet under ``<cache>/corpus/<key>/`` (the CACHE_KEEP most recently
used ones are kept); the program under test only
ever sees the parquet tables. Three shapes:

- ``pages``: manga chapters whose pages are rendered by
  ``fixtures.generator.generate_corpus`` (one page per generator doc)
  and then assembled into documents with a FIXED page-count multiset
  (zipf-ish, shuffled by the seed), so every seed yields the same number
  of documents, pages, JPEG pages and shared pages. Only page content
  changes with the seed, which keeps throughput comparable across seeds.
  ``shared`` is the share of image spans that reference a page already
  owned by another document (credit pages reused across chapters); their
  expected spans are the source page's golden spans.
- ``html``: interleaved ``(doc_id, spans[])`` documents with html, text
  and image spans and skewed span counts. The expected output is built
  from the known bodies, not from the program's SQL.

Each corpus directory holds ``documents/``, ``media/`` (pages only),
``expected/`` (doc_id, kind, text, media_ref, order) and ``meta.json``.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SPAN_TYPE = pa.struct(
    [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()), ("offset", pa.int32())]
)
DOCS_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(SPAN_TYPE))])
MEDIA_SCHEMA = pa.schema(
    [
        ("media_ref", pa.string()),
        ("image_bytes", pa.binary()),
        ("width", pa.int32()),
        ("height", pa.int32()),
        ("page_md5", pa.string()),
    ]
)
EXPECTED_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("order", pa.int32()),
    ]
)
# Files per table. Spark packs small files into scan splits, and the
# media scan's splits are the kernel stage's tasks.
N_FILES = 8
# Corpora kept in the cache. Runs over many seeds would otherwise fill
# the checkout's disk: a pages corpus takes 10-40 MB.
CACHE_KEEP = 8
# Part of every cache key: bump it whenever generation changes.
GENERATOR_VERSION = 4
# Noisy pages with a ruby text of at most this many glyphs are left out
# (see _page_pool).
SHORT_RUBY_GLYPHS = 3
JPEG_SIG = b"\xff\xd8"


@dataclass(frozen=True)
class PagesSpec:
    n_docs: int
    max_pages: int = 24
    p_text_span: float = 0.6
    noisy: bool = False  # the kitchen-sink page mix (robust + vertical + furigana)
    p_jpeg: float = 0.0  # share of distinct pages stored as JPEG (whole number per media file)
    shared: float = 0.0  # exact share of image spans pointing at another doc's page


@dataclass(frozen=True)
class HtmlSpec:
    n_docs: int
    max_spans: int = 48


def page_counts(n_docs: int, max_pages: int) -> list[int]:
    """Fixed zipf-ish multiset of pages per document (P(n) ~ n^-1.6,
    the generator's own skew), by largest-remainder rounding."""
    w = np.arange(1, max_pages + 1, dtype=np.float64) ** -1.6
    share = w / w.sum() * n_docs
    counts = np.floor(share).astype(int)
    for i in np.argsort(-(share - counts))[: n_docs - counts.sum()]:
        counts[i] += 1
    return [k for k, c in enumerate(counts, start=1) for _ in range(c)]


def _split(table: pa.Table, n: int = N_FILES) -> list[pa.Table]:
    step = -(-table.num_rows // n)
    return [table.slice(i * step, step) for i in range(n)]


def _key(spec, seed: int) -> str:
    blob = json.dumps(
        {"type": type(spec).__name__, **asdict(spec), "seed": seed, "v": GENERATOR_VERSION},
        sort_keys=True,
    )
    return f"{type(spec).__name__.lower()}-{seed}-{hashlib.sha1(blob.encode()).hexdigest()[:12]}"


def _evict(root: str, keep: int) -> None:
    """Remove all but the ``keep`` most recently used corpora under root."""
    dirs = [os.path.join(root, d) for d in os.listdir(root)]
    for d in sorted(dirs, key=os.path.getmtime)[:-keep]:
        shutil.rmtree(d, ignore_errors=True)


def load_or_build(spec, seed: int, cache_dir: str, processes: int = 1) -> tuple[str, dict]:
    """Return (corpus dir, meta), generating it on a cache miss. The
    directory is renamed into place only when complete. Before a build,
    the cache is cut to its CACHE_KEEP - 1 most recently used corpora."""
    final = os.path.join(cache_dir, "corpus", _key(spec, seed))
    meta_path = os.path.join(final, "meta.json")
    if os.path.exists(meta_path):
        os.utime(final)  # most recently used
        with open(meta_path) as f:
            return final, json.load(f)
    os.makedirs(os.path.dirname(final), exist_ok=True)
    _evict(os.path.dirname(final), CACHE_KEEP - 1)
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    if isinstance(spec, PagesSpec):
        tables, meta = _build_pages(spec, seed, processes)
    else:
        tables, meta = _build_html(spec, seed)
    for name, parts in tables.items():
        os.makedirs(os.path.join(tmp, name))
        for i, part in enumerate(parts):
            pq.write_table(part, os.path.join(tmp, name, f"part-{i:03d}.parquet"))
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return final, meta


# --- pages ---------------------------------------------------------------


def _page_pool(spec: PagesSpec, seed: int, n: int, kind: str, processes: int) -> list[dict]:
    """Render ``n`` single pages; kind is png, gray_jpeg or color_jpeg.

    Noisy pages with a ruby column beside a text of at most
    SHORT_RUBY_GLYPHS glyphs are left out, and a benchmark workload must
    be one on which the program is correct. The ruby word (2-5 glyphs at
    half scale) can then outnumber the text's glyphs, pull the block's
    mean glyph size under the ladder's minimum text size, and the robust
    ladder drops the block (a known miss: 5 pages in about 53,000, at 2
    and 3 glyphs). The filter reads only the generator's own region
    table, never the program's output."""
    from mangaextractor_spark.fixtures.generator import CorpusSpec, generate_corpus

    if n == 0:
        return []
    noisy = (
        dict(
            vertical_text=True, p_furigana=0.5, bubble_fill=235, p_speckle=0.05, border_art=True
        )
        if spec.noisy
        else {}
    )
    jpeg = {
        "png": {},
        "gray_jpeg": dict(p_jpeg=1.0),
        "color_jpeg": dict(p_jpeg=1.0, p_color_jpeg=1.0),
    }[kind]
    sub_seed = seed * 4 + ("png", "gray_jpeg", "color_jpeg").index(kind)
    surplus = n // 5 + 4 if spec.noisy else 0  # about 12% of noisy pages are left out
    while True:
        c = generate_corpus(
            CorpusSpec(n_docs=n + surplus, seed=sub_seed, max_pages=1, p_text_span=0.0, **noisy, **jpeg),
            processes=processes,
        )
        regions = c["golden_regions"]
        short_ruby = regions["has_ruby"] & (regions["glyph_text"].str.replace(" ", "").str.len() <= SHORT_RUBY_GLYPHS)
        skip = set(regions.loc[short_ruby, "media_ref"])
        texts: dict[str, list[str]] = {}
        for r in c["golden_spans"].sort_values(["doc_id", "order"]).itertuples(index=False):
            texts.setdefault(r.media_ref, []).append(r.text)
        pages = [
            {**m, "texts": texts.get(m["media_ref"], [])}
            for m in c["media"].to_dict("records")
            if m["media_ref"] not in skip
        ]
        if len(pages) >= n:
            return pages[:n]
        # More pages left out than the surplus covers (rare): render a
        # larger batch from the same seed.
        surplus = 2 * surplus + 2


def _build_pages(spec: PagesSpec, seed: int, processes: int) -> tuple[dict, dict]:
    rng = random.Random(seed)
    counts = page_counts(spec.n_docs, spec.max_pages)
    rng.shuffle(counts)
    doc_ids = [f"vol{d // 10:03d}/ch{d:04d}" for d in range(spec.n_docs)]
    slots = [(d, p) for d, k in enumerate(counts) for p in range(k)]
    n_shared = round(spec.shared * len(slots))
    shared = set(rng.sample(range(len(slots)), n_shared))
    n_distinct = len(slots) - n_shared
    # JPEG pages come in equal numbers per media file (half of them
    # colour), so every scan split decodes the same JPEG load whatever
    # the seed: the kernel stage's critical path stays comparable.
    per_file = max(1, round(spec.p_jpeg * n_distinct / N_FILES)) if spec.p_jpeg else 0
    n_color = per_file // 2 * N_FILES
    n_jpeg = per_file * N_FILES
    gray = _page_pool(spec, seed, n_jpeg - n_color, "gray_jpeg", processes)
    color = _page_pool(spec, seed, n_color, "color_jpeg", processes)
    pool = _page_pool(spec, seed, n_distinct - n_jpeg, "png", processes) + gray + color
    rng.shuffle(pool)  # which document owns which page

    # Own pages first: every non-shared slot gets a fresh page, renamed
    # after the document that owns it. Shared slots then point at a PNG
    # page owned by another document.
    owner: list[int] = []
    media_rows, slot_page = [], {}
    it = iter(pool)
    for i, (d, p) in enumerate(slots):
        if i in shared:
            continue
        page = next(it)
        page["media_ref"] = f"{doc_ids[d]}#p{p + 1}"
        slot_page[i] = len(media_rows)
        media_rows.append(page)
        owner.append(d)
    png_rows = [j for j, m in enumerate(media_rows) if m["image_bytes"][:2] != JPEG_SIG]
    for i in sorted(shared):
        d = slots[i][0]
        slot_page[i] = rng.choice([j for j in png_rows if owner[j] != d])

    docs, expected = [], []
    for d, doc_id in enumerate(doc_ids):
        spans, out = [], []
        offset = 0
        for i in (i for i, s in enumerate(slots) if s[0] == d):
            if rng.random() < spec.p_text_span:
                prose = " ".join(rng.choice(_VOCAB) for _ in range(rng.randint(3, 8)))
                spans.append({"kind": "text", "text": prose, "media_ref": "", "offset": offset})
                out.append((prose, ""))
                offset += 1
            page = media_rows[slot_page[i]]
            spans.append({"kind": "image", "text": "", "media_ref": page["media_ref"], "offset": offset})
            out.extend((t, page["media_ref"]) for t in page["texts"])
            offset += 1
        docs.append({"doc_id": doc_id, "spans": spans})
        expected.extend(
            {"doc_id": doc_id, "kind": "text", "text": t, "media_ref": m, "order": o}
            for o, (t, m) in enumerate(out)
        )
    files: list[list[dict]] = [[] for _ in range(N_FILES)]
    for group in (gray, color):
        k = len(group) // N_FILES
        for f in range(N_FILES):
            files[f].extend(group[f * k : (f + 1) * k])
    pngs = [m for m in media_rows if m["image_bytes"][:2] != JPEG_SIG]
    for j, m in enumerate(pngs):
        files[j % N_FILES].append(m)
    media = [
        pa.Table.from_pylist([{k: v for k, v in m.items() if k != "texts"} for m in f], schema=MEDIA_SCHEMA)
        for f in files
    ]
    meta = {
        "docs": spec.n_docs,
        "pages": len(slots),
        "distinct_pages": len(media_rows),
        "jpeg_pages": n_jpeg,
        "shared_spans": n_shared,
        "expected_spans": len(expected),
        "media_bytes": sum(len(m["image_bytes"]) for m in media_rows),
    }
    tables = {
        "documents": _split(pa.Table.from_pylist(docs, schema=DOCS_SCHEMA)),
        "media": media,
        "expected": [pa.Table.from_pylist(expected, schema=EXPECTED_SCHEMA)],
    }
    return tables, meta


# --- interleaved html ----------------------------------------------------

_VOCAB = [
    "KAWA", "YAMA", "SORA", "HOSHI", "KUMO", "TORI", "NEKO", "INU",
    "HANA", "MORI", "UMI", "KAZE", "YUKI", "TSUKI", "HIKARI", "MIZU",
    "R&D", "<3", "a>b", "it's", '"quoted"', "x&y<z",
]
_ESCAPES = (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"), ('"', "&quot;"), ("'", "&#39;"))
_BOILER = (
    "<head><title>Chapter {n}</title><style>p {{ color: red }}</style></head>",
    "<nav id=\"menu\">HOME | NEXT</nav>",
    "<header>SITE NAME</header>",
    "<script>var x = '<p>not content</p>';</script>",
    "<aside>ADS ADS</aside>",
    "<footer>(c) FOOTER</footer>",
)


def _escape(s: str) -> str:
    for ch, ent in _ESCAPES:
        s = s.replace(ch, ent)
    return s


def _html_span(rng: random.Random, n: int) -> tuple[str, str]:
    """(html, expected main text); 1 in 5 is pure boilerplate."""
    junk = [b.format(n=n) for b in rng.sample(_BOILER, rng.randint(1, 3))]
    if rng.random() < 0.2:
        return "<html><body>" + "".join(junk) + "</body></html>", ""
    paras = [
        [rng.choice(_VOCAB) for _ in range(rng.randint(2, 9))] for _ in range(rng.randint(1, 3))
    ]
    body = "".join(f"<p class=\"t\">{_escape(' '.join(p))}</p>\n" for p in paras)
    html = "<html>" + junk[0] + "<body><article>" + body + "</article>" + "".join(junk[1:])
    return html + "</body></html>", " ".join(w for p in paras for w in p)


def _build_html(spec: HtmlSpec, seed: int) -> tuple[dict, dict]:
    rng = random.Random(seed)
    counts = page_counts(spec.n_docs, spec.max_spans)
    rng.shuffle(counts)
    docs, expected = [], []
    for d, n in enumerate(counts):
        doc_id = f"web{d:07d}"
        offsets = sorted(rng.sample(range(10 * n), n))
        spans, out = [], []
        for k, off in enumerate(offsets):
            u = rng.random()
            if u < 0.45:
                html, text = _html_span(rng, d)
                spans.append({"kind": "html", "text": html, "media_ref": "", "offset": off})
                if text:
                    out.append(("text", text, ""))
            elif u < 0.8:
                text = "" if rng.random() < 0.05 else " ".join(
                    rng.choice(_VOCAB) for _ in range(rng.randint(1, 12))
                )
                spans.append({"kind": "text", "text": text, "media_ref": "", "offset": off})
                if text:
                    out.append(("text", text, ""))
            else:
                ref = f"img/{doc_id}/{k}"
                spans.append({"kind": "image", "text": "", "media_ref": ref, "offset": off})
                out.append(("image", "", ref))
        rng.shuffle(spans)  # storage order != reading order
        docs.append({"doc_id": doc_id, "spans": spans})
        expected.extend(
            {"doc_id": doc_id, "kind": k, "text": t, "media_ref": m, "order": o}
            for o, (k, t, m) in enumerate(out)
        )
    meta = {
        "docs": spec.n_docs,
        "spans_in": sum(counts),
        "expected_spans": len(expected),
    }
    tables = {
        "documents": _split(pa.Table.from_pylist(docs, schema=DOCS_SCHEMA)),
        "expected": [pa.Table.from_pylist(expected, schema=EXPECTED_SCHEMA)],
    }
    return tables, meta
