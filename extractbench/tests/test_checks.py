import os

import pyarrow as pa
import pyarrow.parquet as pq

import checks


def _write_run(root, rows, lineage):
    out = os.path.join(root, "out")
    for bucket in {r[4] for r in rows}:
        part = [r for r in rows if r[4] == bucket]
        d = os.path.join(out, f"bucket={bucket}")
        os.makedirs(d)
        pq.write_table(pa.table({
            "conv_id": [r[0] for r in part],
            "turn_idx": pa.array([r[1] for r in part], pa.int32()),
            "extracted_text": [r[2] for r in part],
            "spans": [r[3] for r in part],
            "method": ["plain"] * len(part)}), os.path.join(d, "p.parquet"))
    lin = os.path.join(root, "lineage")
    os.makedirs(lin)
    pq.write_table(pa.table({
        "bucket": pa.array([b for b, _, _, _ in lineage], pa.int32()),
        "rows_in": [i for _, i, _, _ in lineage],
        "rows_out": [o for _, _, o, _ in lineage],
        "status": [s for _, _, _, s in lineage]}),
        os.path.join(lin, "l.parquet"))
    return out, lin


ROWS = [("c0", 0, "hello world", [{"start": 0, "end": 11}], 0),
        ("c0", 1, "second turn", [{"start": 0, "end": 11}], 1),
        ("c1", 0, "", [], 1)]
EXPECTED = {(c, t): checks.turn_digest(x, s, False)
            for c, t, x, s, _ in ROWS}
BALANCED = [(0, 1, 1, "completed"), (1, 2, 2, "completed")]


def test_clean_run_passes(tmp_path):
    out, lin = _write_run(str(tmp_path), ROWS, BALANCED)
    assert checks.check_run(EXPECTED, out, lin) == 0


def test_one_flipped_byte_fails_one_turn(tmp_path):
    rows = list(ROWS)
    conv, turn, text, spans, bucket = rows[1]
    flipped = text[:3] + chr(ord(text[3]) ^ 1) + text[4:]
    rows[1] = (conv, turn, flipped, spans, bucket)
    out, lin = _write_run(str(tmp_path), rows, BALANCED)
    assert checks.check_run(EXPECTED, out, lin) == 1


def test_missing_duplicate_and_unexpected_rows_fail(tmp_path):
    rows = [ROWS[0], ROWS[0], ROWS[2], ("c9", 0, "x", [], 1)]
    out, lin = _write_run(str(tmp_path), rows, BALANCED)
    # c0/0 duplicated, c0/1 missing, c9/0 unexpected
    assert checks.check_run(EXPECTED, out, lin) == 3


def test_unbalanced_lineage_fails_its_bucket(tmp_path):
    out, lin = _write_run(str(tmp_path), ROWS,
                          [(0, 1, 1, "completed"), (1, 3, 2, "incomplete")])
    assert checks.check_run(EXPECTED, out, lin) == 2


def test_goldens_round_trip(tmp_path):
    path = str(tmp_path / "g.json")
    checks.save_goldens(path, "w", 0, "fp", EXPECTED)
    assert checks.load_goldens(path) == ("fp", EXPECTED)


def test_digest_covers_spans_and_error_flag():
    base = checks.turn_digest("ab", [(0, 2)], False)
    assert base == checks.turn_digest("ab", [{"start": 0, "end": 2}], False)
    assert base != checks.turn_digest("ab", [(0, 1)], False)
    assert base != checks.turn_digest("ab", [(0, 2)], True)
