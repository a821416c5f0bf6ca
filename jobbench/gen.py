"""Seeded input generation for the three job workloads.

Every input is built here, in the benchmark process, before any Spark
session starts; the program only ever sees the files written to disk.
Each generator also returns the ground truth the correctness check
compares the committed tables against (oracle text, planted markup,
planted duplicates).

Text comes from the shape of the sf0.1 ``documents`` fixture: its
30-word vocabulary, 10-100 words per document and its language mix.
The fixture itself lives outside a benchmark checkout, so its shape is
re-created from the seed instead of read.

Sizes follow a fixed schedule (the same size quantiles for every seed);
the seed only chooses words, urls and the order of documents, so every
seed gives the same amount of work.
"""

from __future__ import annotations

import datetime as dt
import gzip
import json
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 documents fixture: vocabulary and language mix.
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANG_MIX = (("en", 41), ("zh", 15), ("es", 15), ("fr", 15), ("de", 14))
_LANGS = [lang for lang, w in LANG_MIX for _ in range(w)]

# Arabic base words made only of letters the rewrite table leaves alone;
# pages carry them decorated with harakat, tatweel and hamza-alef, which
# the lang='ar' rewrite folds back to exactly these words.
AR_WORDS = (
    "كتاب قلم بيت "
    "شمس قمر بحر "
    "علم سلام نور "
    "درس مدينه طريق"
).split()
_AR_MARKS = ("َ", "ُ", "ِ", "ّ", "ْ", "ـ")

# Words for the non-UTF-8 pages, one list per legacy charset.
CHARSET_WORDS = {
    "windows-1251": (
        "данные таблица "
        "запрос строка "
        "быстро медленно "
        "ключ поток"
    ).split(),
    "iso-8859-1": (
        "café résumé naïve façade déjà "
        "été garçon señor"
    ).split(),
}

HOSTS = [f"site{i:02d}.example.com" for i in range(40)]
EMIT_ALL = ("words", "extracted", "removals", "pagemeta", "image_pairs", "media_refs", "jsonld")
BASE_TS = 1_704_067_200  # 2024-01-01T00:00:00Z

# Fixed page chrome: navigation, adverts, cookie banner, sidebar,
# footer and script/style payloads, all of which extraction removes.
_CSS = "".join(f".c{i}{{margin:{i}px;padding:{i % 7}px;color:#{i:03x}}}" for i in range(120))
_JS = "var cfg={" + ",".join(f"k{i}:{(i * 7919) % 10007}" for i in range(260)) + "};"
_NAV = "".join(
    f'<li><a href="/section/{w}">{w.title()} {v}</a></li>'
    for w, v in zip(VOCAB[:16], VOCAB[14:30])
)


def _chrome_top(title_html: str, head_extra: str, charset: str) -> str:
    return (
        f'<!DOCTYPE html><html><head><meta charset="{charset}">'
        f"<title>{title_html}</title>{head_extra}"
        f"<style>{_CSS}</style><script>{_JS}</script></head><body>"
        f'<header class="site-header"><nav class="navbar"><ul>{_NAV}</ul></nav></header>'
        '<div id="cookie-consent">We use cookies to improve this site.</div>'
        '<div class="ad-banner"><a href="/ads/click?id=7">'
        '<img src="/ads/banner.png" alt="advert"> Sponsored offer</a></div>'
    )


_CHROME_BOTTOM = (
    f'<aside class="sidebar"><h3>Related</h3><ul>{_NAV}</ul></aside>'
    '<div class="share-buttons"><a href="/share/x">Share</a> <a href="/share/y">Post</a></div>'
    '<footer class="site-footer"><p>Copyright 2024 Example Media.</p>'
    '<a href="/legal">Legal</a></footer>'
    f"<script>{_JS}</script></body></html>"
)


def fixture_text(rng: random.Random, lo: int = 10, hi: int = 100) -> str:
    """One document text in the shape of the sf0.1 fixture."""
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(lo, hi)))


def _ar_decorate(rng: random.Random, word: str) -> str:
    out = []
    for ch in word:
        out.append("أ" if ch == "ا" and rng.random() < 0.5 else ch)
        if rng.random() < 0.5:
            out.append(rng.choice(_AR_MARKS))
    return "".join(out)


def para_count(rank: float) -> int:
    """Paragraphs for the document at size quantile ``rank`` in [0, 1):
    most pages carry 3-10 paragraphs (~1-4 KB of text in ~14 KB of
    chrome); the top 4% form a tail of 20-400 paragraphs."""
    if rank < 0.96:
        return 3 + int(8 * rank / 0.96)
    return int(20 * 20 ** ((rank - 0.96) / 0.04))


@dataclass
class Page:
    url: str
    html: bytes | None
    lang: str | None
    kind: str  # normal | ar | charset | empty | malformed | nonhtml
    oracle: str | None  # extracted text expected, whitespace-collapsed; None = use extract_document
    charset: str | None = None  # transport charset (warc Content-Type parameter)
    meta: dict = field(default_factory=dict)  # planted side-table markup


def _url(rng: random.Random, i: int) -> str:
    slug = "-".join(rng.choice(VOCAB) for _ in range(3))
    return f"https://{rng.choice(HOSTS)}/article/{i}/{slug}"


def build_page(
    rng: random.Random, i: int, kind: str, n_para: int, *, plant_meta: bool = False,
    lang: str | None = None,
) -> Page:
    """One page of the given kind with its ground truth."""
    url = _url(rng, i)
    if lang is None:
        lang = rng.choice(_LANGS)
    if kind == "empty":
        variant = i % 3
        html = (None, b"", f"<html><head><script>{_JS}</script></head><body>  </body></html>".encode())[variant]
        return Page(url, html, lang, kind, "")
    charset = "utf-8"
    if kind == "ar":
        lang = "ar"
        paras = [[rng.choice(AR_WORDS) for _ in range(rng.randint(8, 40))] for _ in range(n_para)]
        oracle_lines = [" ".join(p) for p in paras]
        body_lines = [" ".join(_ar_decorate(rng, w) for w in p) for p in paras]
        title = oracle_lines[0][:30].strip()
        title_html = title
        h1 = None
    elif kind == "charset":
        charset = ("windows-1251", "iso-8859-1")[i % 2]
        words = CHARSET_WORDS[charset]
        oracle_lines = [" ".join(rng.choice(words) for _ in range(rng.randint(8, 40))) for _ in range(n_para)]
        body_lines = oracle_lines
        h1 = None
        title_html = "page"
    else:
        oracle_lines = [fixture_text(rng) for _ in range(n_para)]
        body_lines = oracle_lines
        h1 = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(3, 7)))
        title_html = h1
    head_extra = ""
    meta: dict = {}
    content_tail = ""
    if plant_meta:
        meta = _plant_meta(rng, i, url, h1 or "page")
        head_extra = meta.pop("_head")
        content_tail = meta.pop("_body")
        if meta.get("caption"):
            oracle_lines = oracle_lines + [meta["caption"]]
    if kind == "malformed":
        body = _malformed_body(rng, body_lines)
        oracle = None
    else:
        body = "".join(f"<p>{ln}</p>\n" for ln in body_lines)
        oracle = " ".join(([h1] if h1 else []) + oracle_lines)
    h1_html = f"<h1>{h1}</h1>" if h1 else ""
    html = (
        _chrome_top(title_html, head_extra, charset)
        + f"<main><article>{h1_html}{body}{content_tail}</article></main>"
        + _CHROME_BOTTOM
    ).encode(charset)
    if kind == "charset":
        try:
            html.decode("utf-8")
            raise AssertionError("legacy-charset page decodes as UTF-8")
        except UnicodeDecodeError:
            pass
    return Page(url, html, lang, kind, oracle, charset if kind == "charset" else None, meta)


def _malformed_body(rng: random.Random, lines: list[str]) -> str:
    """Tag soup: unclosed paragraphs and inline tags, stray '<', a
    broken attribute and a truncated tail."""
    parts = []
    for j, ln in enumerate(lines):
        if j % 3 == 0:
            parts.append(f"<p>{ln}")  # unclosed
        elif j % 3 == 1:
            parts.append(f"<div><b>{ln} < {rng.choice(VOCAB)}</div>")  # stray '<', unclosed <b>
        else:
            parts.append(f"<p class='x>{ln}</p>")  # unterminated attribute quote
    return "".join(parts) + "<p>tail <a href="


def _plant_meta(rng: random.Random, i: int, url: str, title: str) -> dict:
    """Page metadata, JSON-LD, images and media markup for the side
    tables, recorded as ground truth."""
    desc = " ".join(rng.choice(VOCAB) for _ in range(8))
    headline = " ".join(rng.choice(VOCAB) for _ in range(5))
    published = f"2024-0{1 + i % 9}-1{i % 10}T08:00:00Z"
    fig_src = f"/img/{i}/figure.jpg"
    inline_src = f"/img/{i}/inline.png"
    caption = " ".join(rng.choice(VOCAB) for _ in range(6))
    alt = " ".join(rng.choice(VOCAB) for _ in range(4))
    ld = {"@context": "https://schema.org", "@type": "NewsArticle",
          "headline": headline, "datePublished": published}
    head = (
        f'<meta name="description" content="{desc}">'
        f'<meta property="og:title" content="{title}">'
        f'<meta property="og:type" content="article">'
        f'<meta property="article:published_time" content="{published}">'
        f'<script type="application/ld+json">{json.dumps(ld)}</script>'
    )
    has_video = i % 2 == 0
    body = (
        f'<figure><img src="{fig_src}" alt="figure {i}"><figcaption>{caption}</figcaption></figure>'
        f'<p><img src="{inline_src}" alt="{alt}"></p>'
    )
    media = []
    if has_video:
        vsrc, poster, source, track = (f"/media/{i}/clip.mp4", f"/media/{i}/poster.jpg",
                                       f"/media/{i}/clip.webm", f"/media/{i}/subs.vtt")
        body += (
            f'<video src="{vsrc}" poster="{poster}" width="640" height="360">'
            f'<source src="{source}" type="video/webm">'
            f'<track kind="subtitles" srclang="en" label="English" src="{track}"></video>'
        )
        media = sorted([vsrc, poster, source, track])
    return {
        "_head": head, "_body": body, "caption": caption,
        "title": title, "meta_description": desc, "og_title": title,
        "published_time": published, "jsonld_type": "NewsArticle",
        "jsonld_headline": headline,
        "images": sorted(["/ads/banner.png", fig_src, inline_src]),
        "figure_caption": caption, "media": media,
    }


def _schedule(n: int, shares: dict[str, float]) -> list[str]:
    """round(n * share) (at least one) pages of each special kind, the
    rest normal, n in all."""
    kinds: list[str] = []
    for kind, share in shares.items():
        kinds += [kind] * max(1, round(n * share))
    return (kinds + ["normal"] * n)[:n]


# ---------------------------------------------------------------------------
# bucketed_words


def make_documents(seed: int, n_docs: int, path: str) -> list[Page]:
    """documents(url, warc_ts, html, text, lang) parquet, one row group
    (so ``write_bucketed_input`` leaves one file per bucket, the layout
    the extraction job meets in production)."""
    rng = random.Random(seed)
    kinds = _schedule(n_docs, {"ar": 0.05, "charset": 0.03, "empty": 0.02, "malformed": 0.02})
    rng.shuffle(kinds)
    ranks = [(j + 0.5) / n_docs for j in range(n_docs)]
    rng.shuffle(ranks)
    pages = []
    for i, (kind, rank) in enumerate(zip(kinds, ranks)):
        n_para = para_count(rank) if kind in ("normal", "malformed") else 3 + i % 5
        pages.append(build_page(rng, i, kind, n_para))
    table = pa.table({
        "url": pa.array([p.url for p in pages], pa.string()),
        "warc_ts": pa.array([(BASE_TS + i) * 1_000_000 for i in range(n_docs)], pa.timestamp("us", tz="UTC")),
        "html": pa.array([p.html for p in pages], pa.binary()),
        "text": pa.array([None] * n_docs, pa.string()),
        "lang": pa.array([p.lang for p in pages], pa.string()),
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"), row_group_size=n_docs)
    return pages


# ---------------------------------------------------------------------------
# warc_all_tables


@dataclass
class WarcTruth:
    pages: list[Page]          # status-200 records that must reach every table
    excluded: dict[str, str]   # url -> why it must reach no table
    records: dict[str, int]    # response records per status class


def _http_block(status: int, reason: str, headers: list[tuple[str, str]], body: bytes) -> bytes:
    head = f"HTTP/1.1 {status} {reason}\r\n" + "".join(f"{k}: {v}\r\n" for k, v in headers)
    head += f"Content-Length: {len(body)}\r\n\r\n"
    return head.encode("latin-1") + body


def _warc_record(wtype: str, uri: str | None, ts: int, block: bytes, ctype: str) -> bytes:
    date = dt.datetime.fromtimestamp(ts, dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")
    head = [("WARC-Type", wtype), ("WARC-Date", date),
            ("WARC-Record-ID", f"<urn:uuid:{ts:032x}>")]
    if uri:
        head.append(("WARC-Target-URI", uri))
    head += [("Content-Type", ctype), ("Content-Length", str(len(block)))]
    text = "WARC/1.0\r\n" + "".join(f"{k}: {v}\r\n" for k, v in head) + "\r\n"
    return text.encode("latin-1") + block + b"\r\n\r\n"


def make_warc(seed: int, n_records: int, n_segments: int, path: str) -> WarcTruth:
    """gzip WARC segments (one gzip member per record, Common Crawl's
    layout) mixing 200 html, redirects, 404s, noindex pages and
    non-HTML payloads."""
    rng = random.Random(seed)
    kinds = _schedule(n_records, {
        "redirect": 0.06, "notfound": 0.05, "noindex_meta": 0.02, "noindex_header": 0.02,
        "nonhtml": 0.03, "charset": 0.02, "empty": 0.01, "malformed": 0.02,
    })
    rng.shuffle(kinds)
    ranks = [(j + 0.5) / n_records for j in range(n_records)]
    rng.shuffle(ranks)
    pages: list[Page] = []
    excluded: dict[str, str] = {}
    records = {"2xx": 0, "3xx": 0, "4xx": 0}
    segs: list[list[bytes]] = [[] for _ in range(n_segments)]
    for i, (kind, rank) in enumerate(zip(kinds, ranks)):
        ts = BASE_TS + i
        headers = [("Server", "nginx")]
        if kind == "redirect":
            url = _url(rng, i)
            status, reason = rng.choice(((301, "Moved Permanently"), (302, "Found")))
            headers += [("Location", f"https://{rng.choice(HOSTS)}/moved/{i}"),
                        ("Content-Type", "text/html")]
            body = b"<html><body>Moved</body></html>"
            excluded[url] = "redirect"
        elif kind == "notfound":
            url = _url(rng, i)
            status, reason = 404, "Not Found"
            headers.append(("Content-Type", "text/html; charset=utf-8"))
            body = ("<html><body><h1>Not found</h1><p>"
                    + fixture_text(rng) + "</p></body></html>").encode()
            excluded[url] = "404"
        elif kind == "nonhtml":
            status, reason = 200, "OK"
            url = _url(rng, i).replace("/article/", "/api/") + ".json"
            body = json.dumps({"id": i, "items": [fixture_text(rng, 3, 8) for _ in range(5)]}).encode()
            headers.append(("Content-Type", "application/json"))
            pages.append(Page(url, body, None, "nonhtml", None))
        else:
            status, reason = 200, "OK"
            noindex = kind.startswith("noindex")
            page_kind = kind if kind in ("charset", "empty", "malformed") else "normal"
            n_para = para_count(rank) if page_kind in ("normal", "malformed") else 3 + i % 5
            page = build_page(rng, i, page_kind, n_para, plant_meta=page_kind == "normal", lang=None)
            page.lang = None  # warc ingest carries no language hint
            url = page.url
            body = page.html or b""
            if kind == "noindex_meta":
                body = body.replace(b"<head>", b'<head><meta name="robots" content="noindex,follow">', 1)
            ctype = f"text/html; charset={page.charset}" if page.charset else "text/html"
            headers.append(("Content-Type", ctype))
            if kind == "noindex_header":
                headers.append(("X-Robots-Tag", "noindex"))
            if noindex:
                excluded[url] = kind
            else:
                page.html = body
                pages.append(page)
        records[f"{status // 100}xx"] += 1
        block = _http_block(status, reason, headers, body)
        rec = _warc_record("response", url, ts, block, "application/http; msgtype=response")
        segs[i % n_segments].append(gzip.compress(rec, compresslevel=1))
    os.makedirs(path, exist_ok=True)
    for s, members in enumerate(segs):
        info = _warc_record("warcinfo", None, BASE_TS, b"software: jobbench\r\n", "application/warc-fields")
        with open(os.path.join(path, f"segment-{s:03d}.warc.gz"), "wb") as fh:
            fh.write(gzip.compress(info, compresslevel=1))
            fh.writelines(members)
    return WarcTruth(pages, excluded, records)


# ---------------------------------------------------------------------------
# curate_corpus

# Boilerplate lines planted in many documents: line dedup drops them.
REPEATED_LINES = (
    "subscribe to our newsletter for the latest updates",
    "all rights reserved by the publisher of this page",
    "click here to read the full story on our site",
    "follow us on social media for more news and stories",
)


@dataclass
class CurateTruth:
    n_input: int
    final: dict[int, tuple[str, int, int, int]]  # doc_id -> (text, n_email, n_ipv4, n_phone)
    url_dropped: set[int]
    exact_dropped: set[int]
    gate_dropped: set[int]
    contaminated: set[int]
    kept: dict[str, int]  # job-summary key -> expected count


def _clean_lines(rng: random.Random, n_lines: int) -> list[str]:
    """Fixture-shaped lines, each with at least one stopword per ten
    tokens, so the quality gate keeps them by construction."""
    lines = []
    for _ in range(n_lines):
        words = fixture_text(rng, 8, 24).split()
        for k in range(0, len(words), 10):
            words[k] = "the"
        lines.append(" ".join(words))
    return lines


def make_curate(seed: int, n_docs: int, path: str, eval_path: str, passage_n: int,
                 n_files: int) -> CurateTruth:
    """documents(doc_id, url, text, lang, source) parquet plus an eval
    parquet, with planted canonical-url duplicates, exact duplicates,
    repeated lines, passage duplicates, gate failures, eval
    contamination and PII."""
    rng = random.Random(seed)
    kinds = _schedule(n_docs, {
        "url_dup": 0.05, "exact_dup": 0.05, "gate_short": 0.02, "gate_nostop": 0.02,
        "gate_repeat": 0.02, "gate_longtok": 0.01, "contaminated": 0.02,
        "passage": 0.03, "repeated": 0.10, "pii": 0.08,
    })
    rng.shuffle(kinds)
    # one eval text per contaminated document (plus spares), so no two
    # documents share a contaminating span the passage tier could cut
    eval_texts = [" ".join(rng.choice(VOCAB) for _ in range(40))
                  for _ in range(kinds.count("contaminated") + 4)]
    passages = [" ".join(rng.choice(VOCAB) for _ in range(passage_n + 4)) for _ in range(max(2, n_docs // 100))]
    ids = rng.sample(range(1, 50 * n_docs), n_docs)
    rows: list[dict] = []
    final: dict[int, tuple[str, int, int, int]] = {}
    url_dropped, exact_dropped, gate_dropped, contaminated = set(), set(), set(), set()
    passage_owner: dict[int, int] = {}  # passage index -> smallest doc_id carrying it

    def add(doc_id, url, text, lang):
        rows.append({"doc_id": doc_id, "url": url, "text": text, "lang": lang,
                     "source": f"src{doc_id % 10}"})

    pending_passage: list[tuple[int, int, list[str], int]] = []
    repeated: list[tuple[int, list[str]]] = []
    for kind, doc_id in zip(kinds, ids):
        lang = rng.choice(_LANGS)
        url = f"https://{rng.choice(HOSTS)}/doc/{doc_id}"
        lines = _clean_lines(rng, rng.randint(2, 3))
        if kind == "url_dup":
            # a canonical twin of an already-kept clean document whose url
            # sorts after it: only the representative (the min url) survives
            # (trailing slash and tracking parameter fold away)
            twin = url + "/?utm_source=feed"
            add(doc_id, url, "\n".join(lines), lang)
            final[doc_id] = ("\n".join(lines), 0, 0, 0)
            dup_id = doc_id + 50 * n_docs  # ids above the sampled range are unique
            add(dup_id, twin, "\n".join(_clean_lines(rng, 3)), lang)
            url_dropped.add(dup_id)
            continue
        if kind == "exact_dup":
            text = "\n".join(lines)
            add(doc_id, url, text, lang)
            final[doc_id] = (text, 0, 0, 0)
            dup_id = doc_id + 50 * n_docs
            add(dup_id, url + "/copy", text.replace(" ", "  "), lang)  # same text after whitespace folding
            exact_dropped.add(dup_id)
            continue
        if kind.startswith("gate_"):
            if kind == "gate_short":
                text = f"the data{doc_id}"
            elif kind == "gate_nostop":
                text = " ".join(rng.choice([w for w in VOCAB if w not in ("the", "a")]) for _ in range(40))
            elif kind == "gate_repeat":
                a, b = f"zq{doc_id}", f"xk{doc_id}"
                text = " ".join([a, b] * 30)
            else:
                text = " ".join(f"{rng.choice(VOCAB)}{'x' * 15}{k}" for k in range(20)) + " the a"
            add(doc_id, url, text, lang)
            gate_dropped.add(doc_id)
            continue
        if kind == "contaminated":
            ev = eval_texts[len(contaminated)].split()
            start = rng.randrange(0, len(ev) - 13)
            lines[0] = lines[0] + " " + " ".join(ev[start:start + 13])
            add(doc_id, url, "\n".join(lines), lang)
            contaminated.add(doc_id)
            continue
        if kind == "passage":
            p = rng.randrange(len(passages))
            pending_passage.append((doc_id, p, lines, len(rows)))
            add(doc_id, url, "", lang)  # text filled once owners are known
            continue
        pii = (0, 0, 0)
        if kind == "repeated":
            # two boilerplate lines, taken round-robin so each appears in
            # as many documents as the others
            k = len(repeated)
            for rep in (REPEATED_LINES[k % 4], REPEATED_LINES[(k + 1) % 4]):
                lines.insert(rng.randrange(len(lines) + 1), rep)
            repeated.append((doc_id, lines))
            add(doc_id, url, "\n".join(lines), lang)
            continue
        redacted = list(lines)
        if kind == "pii":
            email = f"user{doc_id}@mail{doc_id % 7}.example.org"
            ip = f"10.{doc_id % 250}.{(doc_id // 7) % 250}.{doc_id % 13}"
            phone = f"+1 555 {doc_id % 900 + 100} {doc_id % 9000 + 1000}"
            lines[0] += f" contact {email} or call {phone} now"
            lines[-1] += f" from host {ip} today"
            redacted[0] += " contact <EMAIL> or call <PHONE> now"
            redacted[-1] += " from host <IP> today"
            pii = (1, 1, 1)
        add(doc_id, url, "\n".join(lines), lang)
        final[doc_id] = ("\n".join(redacted), *pii)

    # a passage is kept in its smallest-id carrier and cut from the rest;
    # a cut document is re-joined at token granularity (single spaces)
    for doc_id, p, _lines, _row in pending_passage:
        passage_owner[p] = min(doc_id, passage_owner.get(p, doc_id))
    for doc_id, p, lines, row in pending_passage:
        # a unique token before the passage and nothing after it, so
        # the only duplicated windows are the ones inside the passage
        lines[-1] = f"{lines[-1]} ref{doc_id} {passages[p]}"
        rows[row]["text"] = "\n".join(lines)
        if passage_owner[p] == doc_id:
            final[doc_id] = ("\n".join(lines), 0, 0, 0)
        else:
            kept = "\n".join(lines).replace(passages[p], "")
            final[doc_id] = (" ".join(kept.split()), 0, 0, 0)

    # several files, as a table of documents is laid out, so the first
    # tiers' scans split across cores
    os.makedirs(path, exist_ok=True)
    rows.sort(key=lambda r: r["doc_id"])
    table = pa.Table.from_pylist(rows, schema=pa.schema([
        ("doc_id", pa.int64()), ("url", pa.string()), ("text", pa.string()),
        ("lang", pa.string()), ("source", pa.string())]))
    step = -(-len(rows) // n_files)
    for f in range(n_files):
        pq.write_table(table.slice(f * step, step), os.path.join(path, f"part-{f}.parquet"))
    os.makedirs(eval_path, exist_ok=True)
    pq.write_table(pa.table({"text": eval_texts}), os.path.join(eval_path, "part-0.parquet"))

    n_input = len(rows)
    after_url = n_input - len(url_dropped)
    after_exact = after_url - len(exact_dropped)
    after_gate = after_exact - len(gate_dropped)
    kept = {
        "n_input": n_input,
        "n_after_url_dedup": after_url,
        "n_after_exact_dedup": after_exact,
        "n_after_gate": after_gate,
        "n_contaminated": len(contaminated),
        "n_final": after_gate - len(contaminated),
    }
    owners = set(passage_owner.values())
    # cut passages, plus the self-repeating windows of each repetitive
    # document (60 tokens; all but the first two are covered by a
    # non-owner occurrence of an earlier window)
    kept["n_passage_tokens_removed"] = (passage_n + 4) * sum(
        1 for doc_id, *_ in pending_passage if doc_id not in owners) + 58 * kinds.count("gate_repeat")
    # line dedup drops a line only where it appears in two or more documents
    in_docs = {ln: sum(ln in lines for _d, lines in repeated) for ln in REPEATED_LINES}
    dropped = 0
    for doc_id, lines in repeated:
        kept_lines = [ln for ln in lines if in_docs.get(ln, 0) < 2]
        dropped += len(lines) - len(kept_lines)
        final[doc_id] = ("\n".join(kept_lines), 0, 0, 0)
    kept["n_dup_lines_removed"] = dropped
    return CurateTruth(n_input, final, url_dropped, exact_dropped, gate_dropped,
                       contaminated, kept)
