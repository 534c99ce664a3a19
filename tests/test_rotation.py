"""Each round's differential check covers only the first WINDOW
``queries()`` entries, so they must be the stalest-green ones in the
CORRECTNESS ledger."""

from __future__ import annotations

import json
from pathlib import Path

import __spark_entry__ as entry

WINDOW = 50
REPO = Path(__file__).resolve().parents[1]


def _green_round(ledger: Path) -> dict[str, int]:
    """name -> round of its latest CORRECTNESS row if green, else 0."""
    out: dict[str, int] = {}
    files = ledger.glob("CORRECTNESS_r*.json")
    for rnd, p in sorted((int(p.stem.rsplit("_r", 1)[1]), p) for p in files):
        for name, row in json.loads(p.read_text()).items():
            ok = row["rows_match"] and row["schema_match"] and row["hash_match"]
            out[name] = rnd if ok else 0
    return out


def test_window_prioritizes_weakest_signal():
    rnd = _green_round(REPO)
    key = [rnd.get(n, 0) for n in entry.queries()]
    assert sorted(key[:WINDOW]) == sorted(key)[:WINDOW]


def test_queries_and_oracles_share_one_order():
    o = list(entry.oracle_sql())
    assert [n for n in entry.queries() if n in set(o)] == o


def test_no_ledger_falls_back_to_name_order(monkeypatch, tmp_path):
    monkeypatch.setattr(entry, "LEDGER_DIR", str(tmp_path))
    assert list(entry.queries()) == sorted(entry.queries())


def test_red_latest_row_sorts_first(monkeypatch, tmp_path):
    names = sorted(entry.queries())
    green = dict.fromkeys(("rows_match", "schema_match", "hash_match"), True)
    red = {**green, "hash_match": False}
    r1, r2 = dict.fromkeys(names, green), {names[-1]: red, names[0]: green}
    for rnd, rows in ((1, r1), (2, r2)):
        (tmp_path / f"CORRECTNESS_r{rnd}.json").write_text(json.dumps(rows))
    monkeypatch.setattr(entry, "LEDGER_DIR", str(tmp_path))
    assert list(entry.queries()) == [names[-1], *names[1:-1], names[0]]
