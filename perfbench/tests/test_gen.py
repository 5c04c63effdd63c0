import hashlib
from pathlib import Path

from gen import REJECT_KINDS, REJECT_SYMBOL, MedallionModel, write_drive_tables


def _digest(root: Path) -> str:
    h = hashlib.sha256()
    for p in sorted(root.rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(root)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def _land(tmp: Path, seed: int, batches: int = 2) -> str:
    m = MedallionModel(seed)
    m.write_history(tmp / "b0")
    for i in range(batches):
        m.write_batch(tmp / f"b{i + 1}")
    return _digest(tmp)


def test_same_seed_gives_identical_csvs(tmp_path):
    assert _land(tmp_path / "a", 3) == _land(tmp_path / "b", 3)


def test_other_seed_gives_other_csvs(tmp_path):
    assert _land(tmp_path / "a", 3) != _land(tmp_path / "b", 4)


def test_drive_tables_deterministic(tmp_path):
    write_drive_tables(tmp_path / "a", 5)
    write_drive_tables(tmp_path / "b", 5)
    write_drive_tables(tmp_path / "c", 6)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")


def test_batch_contents(tmp_path):
    m = MedallionModel(1)
    m.write_history(tmp_path / "h")
    before = m.silver_rows()
    m.write_batch(tmp_path / "b1")
    files = {p.stem: p.read_text().splitlines() for p in (tmp_path / "b1").iterdir()}
    # one new day for every symbol, restatements for some, FX without Volume
    assert set(files) == set(m.symbols) | {REJECT_SYMBOL}
    assert m.silver_rows() == before + len(m.symbols)
    assert any(len(rows) > 2 for s, rows in files.items() if s != REJECT_SYMBOL)
    fx = [s for s in m.symbols if s.startswith("FX")]
    assert fx and all(files[s][0] == "Date,Open,High,Low,Close" for s in fx)
    # one row per reject reason plus a row with no date
    assert len(files[REJECT_SYMBOL]) == 1 + len(REJECT_KINDS) + 1
    assert sorted(m.rejects.values()) == sorted(REJECT_KINDS * 2)


def test_expected_dq_row_counts_line():
    m = MedallionModel(2)
    dq = m.expected_dq()
    assert dq["row_counts"] == 1 and dq["stale_data"] == 0
    assert m.row_counts_detail() == (
        f"row counts: bronze={m.bronze_rows()}, gold={m.silver_rows()}, "
        f"silver={m.silver_rows()}")
