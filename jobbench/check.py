"""Correctness of the committed tables, read with pyarrow (no Spark).

Each check compares a job's committed output doc by doc with the
generator's ground truth (oracle text, planted markup, planted
duplicates) and, for row-level fidelity, with ``extract_document`` run
in this process. It returns (attempted, failed, first problems).
"""

from __future__ import annotations

import os
from collections import defaultdict

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

from fusus_spark.extraction.extract import extract_document

# every this-many-th page (plus every page without an oracle text) is
# also compared row for row with extract_document run in-process
ROW_SAMPLE_EVERY = 50
WORD_COLS = ["url", "block_id", "line_id", "word_seq", "word", "punc", "char_start", "char_end"]


def _dataset(root: str):
    return ds.dataset(root, format="parquet", partitioning="hive") if os.path.isdir(root) else None


def read_table(root: str, columns: list[str], urls: list[str] | None = None) -> dict[str, list]:
    d = _dataset(root)
    if d is None:
        return {c: [] for c in columns}
    flt = None if urls is None else pc.field("url").isin(urls)
    return d.to_table(columns=columns, filter=flt).to_pydict()


def word_texts(root: str) -> dict[str, str]:
    """url -> its committed words spelled out (word + punc, single
    spaces, in block/line/word order), computed in Arrow."""
    d = _dataset(root)
    if d is None:
        return {}
    t = d.to_table(columns=WORD_COLS[:6]).sort_by(
        [(c, "ascending") for c in ("url", "block_id", "line_id", "word_seq")])
    tok = pc.binary_join_element_wise(t["word"], t["punc"], "")
    g = pa.table({"url": t["url"], "tok": tok}).group_by("url", use_threads=False).aggregate(
        [("tok", "list")])
    return dict(zip(g["url"].to_pylist(), pc.binary_join(g["tok_list"], " ").to_pylist()))


def _flat(text: str | None) -> str:
    return " ".join((text or "").split())


def _group(cols: dict[str, list], key: str = "url") -> dict:
    rows = defaultdict(list)
    names = [c for c in cols if c != key]
    for i, k in enumerate(cols[key]):
        rows[k].append(tuple(cols[c][i] for c in names))
    return rows


class Tally:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def doc(self, ok: bool, why: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.problems) < 5:
                self.problems.append(why)

    def result(self) -> tuple[int, int, list[str]]:
        return self.attempted, self.failed, self.problems


def _sample(pages) -> list[str]:
    return [p.url for i, p in enumerate(pages) if p.oracle is None or i % ROW_SAMPLE_EVERY == 0]


def check_words(pages, out_dir: str) -> tuple[int, int, list[str]]:
    """bucketed_words: the words table, per url."""
    texts = word_texts(out_dir)
    sample = _sample(pages)
    rows = _group(read_table(out_dir, WORD_COLS, sample))
    sample = set(sample)
    t = Tally()
    for p in pages:
        ok, why = True, ""
        if p.url in sample:
            want = extract_document(p.html, lang=p.lang, charset=p.charset)["words"]
            ok = sorted(rows.get(p.url, [])) == sorted(want)
            why = f"{p.url}: word rows differ from extract_document"
        if ok and p.oracle is not None:
            ok = texts.get(p.url, "") == _flat(p.oracle)
            why = f"{p.url}: words do not spell the oracle text"
        t.doc(ok, why)
    for u in set(texts) - {p.url for p in pages}:
        t.doc(False, f"{u}: unexpected url in words")
    return t.result()


def check_warc(truth, out_dir: str) -> tuple[int, int, list[str]]:
    """warc_all_tables: all seven committed tables, per url; excluded
    records (redirect, 404, noindex) must reach none of them."""
    j = os.path.join
    sample = _sample(truth.pages)
    texts = word_texts(j(out_dir, "words"))
    tables = {
        "words": _group(read_table(j(out_dir, "words"), WORD_COLS, sample)),
        "extracted": _group(read_table(j(out_dir, "extracted"), ["url", "status", "extracted_text"])),
        "removals": _group(read_table(j(out_dir, "removals"), [
            "url", "rule_id", "node_path", "kept", "score", "guard_ratio"])),
        "pagemeta": _group(read_table(j(out_dir, "pagemeta"), [
            "url", "title", "meta_description", "og_title", "published_time",
            "jsonld_type", "jsonld_headline"])),
        "jsonld": _group(read_table(j(out_dir, "jsonld"), ["url", "jsonld_type", "headline"])),
        "image_pairs": _group(read_table(j(out_dir, "image_pairs"), ["url", "src", "text", "in_figure"])),
        "media_refs": _group(read_table(j(out_dir, "media_refs"), ["url", "src"])),
    }
    sample = set(sample)
    t = Tally()
    for p in truth.pages:
        problems = []
        ext = tables["extracted"].get(p.url, [])
        words = tables["words"].get(p.url, [])
        if p.url in sample:
            want = extract_document(p.html, lang=p.lang, charset=p.charset)
            if ext != [(want["status"], want["extracted_text"] or None)]:
                problems.append("extracted differs from extract_document")
            if sorted(words) != sorted(want["words"]):
                problems.append("words differ from extract_document")
            if sorted(tables["removals"].get(p.url, [])) != sorted(want["removals"]):
                problems.append("removals differ from extract_document")
        if p.oracle is not None:
            status = "extracted" if p.oracle else "empty"
            if len(ext) != 1 or ext[0][0] != status or _flat(ext[0][1]) != _flat(p.oracle):
                problems.append("extracted text is not the oracle text")
            if texts.get(p.url, "") != _flat(p.oracle):
                problems.append("words do not spell the oracle text")
        meta = tables["pagemeta"].get(p.url, [])
        if len(meta) != 1:
            problems.append(f"{len(meta)} pagemeta rows")
        m = p.meta
        images = sorted(r[0] for r in tables["image_pairs"].get(p.url, []))
        media = sorted(r[0] for r in tables["media_refs"].get(p.url, []))
        if m:
            want_meta = (m["title"], m["meta_description"], m["og_title"], m["published_time"],
                         m["jsonld_type"], m["jsonld_headline"])
            if meta and meta[0] != want_meta:
                problems.append(f"pagemeta {meta[0]} != {want_meta}")
            if tables["jsonld"].get(p.url, []) != [(m["jsonld_type"], m["jsonld_headline"])]:
                problems.append("jsonld entity differs")
            if images != m["images"]:
                problems.append(f"images {images} != {m['images']}")
            figs = [r[1] for r in tables["image_pairs"][p.url] if r[2]] if images else []
            if figs != [m["figure_caption"]]:
                problems.append("figure caption differs")
            if media != m["media"]:
                problems.append(f"media {media} != {m['media']}")
        else:
            chrome = p.html is not None and b"/ads/banner.png" in p.html
            if images != (["/ads/banner.png"] if chrome else []) or media or tables["jsonld"].get(p.url):
                problems.append("side-table rows on a page without planted markup")
        t.doc(not problems, f"{p.url}: " + "; ".join(problems))
    tables["words"] = texts  # every url with word rows, not only the sample
    for url, why in truth.excluded.items():
        leaked = [k for k, rows in tables.items() if url in rows]
        t.doc(not leaked, f"{url} ({why}) reached {leaked}")
    known = {p.url for p in truth.pages}
    for kind, rows in tables.items():
        for u in set(rows) - known - set(truth.excluded):
            t.doc(False, f"{u}: unexpected url in {kind}")
    return t.result()


def check_curate(truth, out_dir: str, summary: dict) -> tuple[int, int, list[str]]:
    """curate_corpus: the fate of every input document — the corpus
    text and PII counts for survivors, the deciding audit table for
    every dropped one — and the job summary's per-tier counts."""
    j = os.path.join
    corpus = read_table(j(out_dir, "corpus"), ["doc_id", "text", "n_email", "n_ipv4", "n_phone"])
    got = {d: (corpus["text"][i], corpus["n_email"][i], corpus["n_ipv4"][i], corpus["n_phone"][i])
           for i, d in enumerate(corpus["doc_id"])}
    exact = read_table(j(out_dir, "audit", "exact_dedup"), ["doc_id", "rep_id"])
    exact_dup = {d for d, r in zip(exact["doc_id"], exact["rep_id"]) if d != r}
    gate = read_table(j(out_dir, "audit", "gate"), ["doc_id", "keep"])
    gate_drop = {d for d, k in zip(gate["doc_id"], gate["keep"]) if not k}
    contaminated = set(read_table(j(out_dir, "audit", "contamination"), ["doc_id"])["doc_id"])
    t = Tally()
    dropped = {
        "url_dedup": (truth.url_dropped, None),
        "exact_dedup": (truth.exact_dropped, exact_dup),
        "gate": (truth.gate_dropped, gate_drop),
        "contamination": (truth.contaminated, contaminated),
    }
    for tier, (ids, audit) in dropped.items():
        for d in sorted(ids):
            ok = d not in got and (audit is None or d in audit)
            t.doc(ok, f"doc {d}: expected dropped by {tier}")
    for d, want in sorted(truth.final.items()):
        t.doc(got.get(d) == want, f"doc {d}: corpus row {got.get(d)!r:.120} != {want!r:.120}")
    for d in set(got) - set(truth.final):
        t.doc(False, f"doc {d}: unexpected in corpus")
    for key, want in truth.kept.items():
        if summary.get(key) != want:
            t.doc(False, f"summary {key}={summary.get(key)} != {want}")
    return t.result()
