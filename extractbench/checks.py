"""Output checks: per-turn digests, goldens, the oracle, lineage balance.

A turn's digest is the md5 of (extracted_text, spans, is-error row),
truncated to ``DIGEST_HEX`` hex digits. Goldens freeze the digests of
every turn of a workload at the default seed; at any other seed the
expected digests come from ``pdf_ocr_spark.oracle.extract_turn``.
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow.dataset as ds
import pyarrow.parquet as pq

DIGEST_HEX = 16
GOLDEN_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "goldens")


def turn_digest(text: str | None, spans, is_error: bool) -> str:
    norm = [[int(s["start"]), int(s["end"])] if isinstance(s, dict)
            else [int(s[0]), int(s[1])] for s in (spans or [])]
    blob = json.dumps([text or "", norm, bool(is_error)],
                      ensure_ascii=False, separators=(",", ":"))
    return hashlib.md5(blob.encode("utf-8")).hexdigest()[:DIGEST_HEX]


def oracle_digest(text: str) -> str:
    from pdf_ocr_spark.oracle import extract_turn
    r = extract_turn(text)
    return turn_digest(r.extracted_text, r.spans, r.method == "error")


def oracle_digests(texts: list[str]) -> list[str]:
    """Oracle digests of ``texts``, in order (a process-pool task)."""
    return [oracle_digest(t) for t in texts]


def expected_from_oracle(cols: dict, pool, chunk: int = 4,
                         light_chunk: int = 512) -> dict:
    """(conv_id, turn_idx) -> oracle digest. Each distinct payload is
    extracted once, in chunks spread over ``pool`` (an Executor)."""
    distinct = list(dict.fromkeys(cols["text"]))
    heavy = [t for t in distinct if t.startswith("JVBERi")]
    light = [t for t in distinct if not t.startswith("JVBERi")]
    parts = ([heavy[i:i + chunk] for i in range(0, len(heavy), chunk)]
             + [light[i:i + light_chunk]
                for i in range(0, len(light), light_chunk)])
    by_text: dict = {}
    for part, digests in zip(parts, pool.map(oracle_digests, parts)):
        by_text.update(zip(part, digests))
    return {(c, t): by_text[x] for c, t, x in
            zip(cols["conv_id"], cols["turn_idx"], cols["text"])}


def read_output(out_dir: str) -> dict:
    """(conv_id, turn_idx) -> [digest, bucket] for every row written;
    a key seen twice maps to None (a duplicate row is a failed turn)."""
    table = ds.dataset(out_dir, format="parquet",
                       partitioning="hive").to_table(
        columns=["conv_id", "turn_idx", "extracted_text", "spans",
                 "method", "bucket"])
    got: dict = {}
    cols = table.to_pydict()
    for conv, turn, text, spans, method, bucket in zip(
            cols["conv_id"], cols["turn_idx"], cols["extracted_text"],
            cols["spans"], cols["method"], cols["bucket"]):
        key = (conv, int(turn))
        got[key] = None if key in got else [
            turn_digest(text, spans, method == "error"), int(bucket)]
    return got


def bad_lineage_buckets(lineage_dir: str, buckets: set) -> set:
    """Buckets of ``buckets`` without a completed, balanced lineage row,
    or with any incomplete or unbalanced one."""
    rows = pq.read_table(lineage_dir).to_pydict()
    ok, bad = set(), set()
    for b, rin, rout, status in zip(rows["bucket"], rows["rows_in"],
                                    rows["rows_out"], rows["status"]):
        if status == "completed" and rin == rout:
            ok.add(b)
        else:
            bad.add(b)
    return {b for b in buckets if b in bad or b not in ok}


def failed_turns(expected: dict, got: dict, bad_buckets: set) -> set:
    """Turns that are missing, unexpected, duplicated, differ from their
    expected digest, or sit in a bucket whose lineage is not balanced."""
    failed = {k for k in expected.keys() | got.keys()
              if k not in expected or got.get(k) is None
              or got[k][0] != expected[k]}
    failed |= {k for k, v in got.items() if v and v[1] in bad_buckets}
    return failed


def check_run(expected: dict, out_dir: str, lineage_dir: str) -> int:
    """Number of failed turns of one committed run."""
    got = read_output(out_dir)
    buckets = {v[1] for v in got.values() if v}
    return len(failed_turns(expected, got,
                            bad_lineage_buckets(lineage_dir, buckets)))


# -- goldens ---------------------------------------------------------------

def golden_path(workload: str) -> str:
    return os.path.join(GOLDEN_DIR, f"{workload}.json")


def save_goldens(path: str, workload: str, seed: int, fp: str,
                 expected: dict) -> None:
    convs: dict[str, list] = {}
    for (conv, turn), d in sorted(expected.items()):
        convs.setdefault(conv, []).append(d)
        if len(convs[conv]) != turn + 1:
            raise ValueError(f"{conv}: turn indices are not 0..n-1")
    with open(path, "w") as f:
        json.dump({"workload": workload, "seed": seed, "fingerprint": fp,
                   "turns": len(expected),
                   "convs": {c: "".join(v) for c, v in convs.items()}},
                  f, indent=0, sort_keys=True)
        f.write("\n")


def load_goldens(path: str) -> tuple[str, dict] | None:
    """(input fingerprint, frozen digests), or None without a file."""
    if not os.path.exists(path):
        return None
    with open(path) as f:
        g = json.load(f)
    return g["fingerprint"], {
        (conv, i): s[i * DIGEST_HEX:(i + 1) * DIGEST_HEX]
        for conv, s in g["convs"].items()
        for i in range(len(s) // DIGEST_HEX)}
