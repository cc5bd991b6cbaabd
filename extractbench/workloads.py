"""Seeded inputs for the extraction benchmark's workloads.

The generator lives here, not in ``pdf_ocr_spark.fixtures``, so that a
change to the program's own fixtures never changes what the benchmark
measures. Only the public PDF writer (``pdf_ocr_spark.minipdf``) is used.
The same seed always gives byte-identical inputs; ``fingerprint`` proves
it for each record.
"""

from __future__ import annotations

import base64
import hashlib
import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from pdf_ocr_spark.minipdf import (
    ImagePage, ScanLine, TextPage, TextSpan, build_pdf,
)

WORDS = (
    "data spark table query batch stream filter merge page line text scan "
    "column row value index shard block token layout order group join hash "
    "range split plan stage task core node disk"
).split()

# all seven payload flavors the decode path distinguishes
FLAVORS = ("text", "image", "mixed", "headfoot", "big", "skew", "noise")

# the tables are split into this many parquet files, so the scan (and the
# light-path UDF that runs inside it) gets one task per file, as a table
# made of many files would
N_FILES = 8


@dataclass(frozen=True)
class Workload:
    name: str
    convs: int          # conversations, 10-40 turns each
    pdf_pool: int       # distinct PDF payloads
    html_pool: int      # distinct HTML documents
    resume_half: bool   # even buckets committed before the measured call


WORKLOADS = {
    # 229 turns; 28 distinct PDFs (4 of each flavor) over 34 PDF turns,
    # so most PDF turns carry a payload no other turn has and the decode
    # layers dominate
    "pdf_heavy": Workload("pdf_heavy", convs=10, pdf_pool=28,
                          html_pool=64, resume_half=False),
    # ~3k turns; 8 distinct PDFs (~56 referrals each): decode is small
    # and the call is Spark plumbing over the light rows; the measured
    # call resumes a half-committed run
    "chat_resume": Workload("chat_resume", convs=120, pdf_pool=8,
                            html_pool=64, resume_half=True),
}

def _sentence(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n))


def _text_page(rng: random.Random, n_lines: int = 3) -> TextPage:
    lines = [_sentence(rng, 12)]
    while len(lines[0]) < 55:
        lines[0] += " " + _sentence(rng, 4)
    lines += [_sentence(rng, rng.randint(3, 8)) for _ in range(n_lines - 1)]
    return TextPage(spans=[TextSpan(x=20.0, y=360.0 - 16.0 * i, size=12.0,
                                    text=t) for i, t in enumerate(lines)])


def _scan_page(rng: random.Random, header: str | None = None,
               footer: str | None = None, skew: float = 0.0,
               noise: float = 0.0) -> ImagePage:
    lines, y = [], 36
    if header:
        lines.append(ScanLine(x=20, y=y, size=12, text=header))
        y += 70
    for _ in range(2):
        lines.append(ScanLine(x=20, y=y, size=12,
                              text=_sentence(rng, rng.randint(2, 4))))
        y += 70
    if footer:
        lines.append(ScanLine(x=20, y=min(y + 40, 360), size=12,
                              text=footer))
    return ImagePage(lines=lines, skew_deg=skew, noise=noise,
                     seed=rng.randint(0, 2 ** 31))


def pdf_payload(rng: random.Random, flavor: str, n_pages: int) -> str:
    """One base64 PDF; ``n_pages`` sizes the text (1-4 pages) and image
    (1-2 pages) flavors, the others have a fixed shape."""
    if flavor == "text":
        pages = [_text_page(rng) for _ in range(1 + n_pages % 4)]
    elif flavor == "image":
        pages = [_scan_page(rng) for _ in range(1 + n_pages % 2)]
    elif flavor == "mixed":
        pages = [_text_page(rng), _scan_page(rng), _text_page(rng)]
    elif flavor == "headfoot":
        pages = [_scan_page(rng, header="ACME Quarterly",
                            footer="Company Confidential")
                 for _ in range(3)]
    elif flavor == "big":
        pages = [_text_page(rng, n_lines=1) for _ in range(52)]
    elif flavor == "skew":
        pages = [_scan_page(rng, skew=2.5)]
    elif flavor == "noise":
        pages = [_scan_page(rng, noise=0.0005)]
    else:
        raise ValueError(f"unknown flavor {flavor}")
    return base64.b64encode(build_pdf(pages)).decode()


def html_payload(rng: random.Random, boilerplate: bool) -> str:
    promo = "<p>Subscribe to our newsletter!</p>" if boilerplate else ""
    sections = "".join(
        f"<section><h2>{_sentence(rng, 3)}</h2>"
        f"<p>{_sentence(rng, rng.randint(8, 20))}</p>{promo}</section>"
        for _ in range(rng.randint(2, 4)))
    return ("<!DOCTYPE html><html><head><title>doc</title>"
            "<style>body{margin:0}</style><script>var t=1;</script></head>"
            "<body><nav>Home | Docs | About</nav><header>SiteName</header>"
            + sections + "<footer>(c) 2026 SiteName</footer></body></html>")


def _refs(rng: random.Random, pool: int, n: int) -> list[int]:
    """``n`` references to ``pool`` entries: each entry once, then cycling
    from entry 0, shuffled. The multiset is the same for every seed."""
    refs = [i % pool for i in range(n)]
    rng.shuffle(refs)
    return refs


def generate(w: Workload, seed: int) -> dict:
    """Columns (conv_id, turn_idx, text) of the workload's transcripts:
    60% plain chat, 25% HTML and 15% base64 PDF turns.

    Only content depends on the seed. The shape that sets the cost (turn
    counts, kind mix, how often each payload is referenced, flavors and
    page counts) is the same for every seed, so runs at different seeds
    measure the same work."""
    rng = random.Random(f"{seed}/{w.name}/turns")
    lengths = [10 + (7 * c) % 31 for c in range(w.convs)]
    n = sum(lengths)
    n_pdf, n_html = round(0.15 * n), round(0.25 * n)
    kinds = ["pdf"] * n_pdf + ["html"] * n_html + ["plain"] * (
        n - n_pdf - n_html)
    rng.shuffle(kinds)
    pdf_refs = iter(_refs(rng, w.pdf_pool, n_pdf))
    html_refs = iter(_refs(rng, w.html_pool, n_html))
    pdfs = [pdf_payload(random.Random(f"{seed}/pdf/{i}"),
                        FLAVORS[i % len(FLAVORS)], i // len(FLAVORS))
            for i in range(w.pdf_pool)]
    htmls = [html_payload(random.Random(f"{seed}/html/{i}"), i % 2 == 0)
             for i in range(w.html_pool)]
    cols: dict[str, list] = {"conv_id": [], "turn_idx": [], "text": []}
    kind = iter(kinds)
    for c, length in enumerate(lengths):
        for t in range(length):
            k = next(kind)
            cols["conv_id"].append(f"conv-{c:06d}")
            cols["turn_idx"].append(t)
            cols["text"].append(
                pdfs[next(pdf_refs)] if k == "pdf"
                else htmls[next(html_refs)] if k == "html"
                else _sentence(rng, rng.randint(5, 40)))
    return cols


def fingerprint(cols: dict) -> str:
    """Content fingerprint of an input: sha256 over every row in order."""
    h = hashlib.sha256()
    for conv, turn, text in zip(cols["conv_id"], cols["turn_idx"],
                                cols["text"]):
        h.update(f"{conv}\x1f{turn}\x1f".encode())
        h.update(text.encode())
        h.update(b"\x1e")
    return h.hexdigest()[:32]


def write_table(cols: dict, path: str) -> None:
    """Write the columns as a parquet table of ``N_FILES`` files."""
    os.makedirs(path, exist_ok=True)
    table = pa.table({
        "conv_id": pa.array(cols["conv_id"], pa.string()),
        "turn_idx": pa.array(cols["turn_idx"], pa.int32()),
        "text": pa.array(cols["text"], pa.string()),
    })
    step = -(-table.num_rows // N_FILES)
    for i in range(N_FILES):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"),
                           row_group_size=4096)
