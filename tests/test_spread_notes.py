"""Band/label math of tools/spread_notes.py (VERDICT r14 item 1): the
per-query expected-spread annotation that lets a driver movers table
self-adjudicate against the quiet-take archive."""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools.spread_notes import annotate, bands, label, load_take, main, markdown_table


def test_bands_over_takes_with_missing_query():
    takes = [
        {"a": 1.0, "b": 5.0},
        {"a": 2.0, "b": 4.0},
        {"a": 1.5},  # b errored in this take — band over the takes that have it
    ]
    b = bands(takes)
    assert b["a"] == {"n": 3, "min": 1.0, "median": 1.5, "max": 2.0}
    assert b["b"] == {"n": 2, "min": 4.0, "median": 4.5, "max": 5.0}


def test_label_band_stretch():
    band = {"n": 4, "min": 4.1, "median": 8.0, "max": 12.5}
    # The r14 part_link_prediction case: a 12.5 s driver reading on an
    # untouched path whose quiet takes span 4.1-12.5 s is in-band scatter.
    assert label(band, 12.5) == "in_band"
    assert label(band, 13.7) == "in_band"  # within max*1.10
    assert label(band, 13.8) == "above_band"
    assert label(band, 3.7) == "in_band"  # within min*0.90
    assert label(band, 3.6) == "below_band"


def test_annotate_flags_no_band_queries():
    out = annotate({"a": {"n": 2, "min": 1.0, "median": 1.5, "max": 2.0}}, {"a": 1.4, "new_q": 3.0})
    assert out["a"]["label"] == "in_band"
    assert out["a"]["vs_median"] == 0.93
    assert out["new_q"]["label"] == "no_band"


def test_markdown_table_renders_zero_median_band():
    """A band whose median is 0 has no vs-median ratio: the table shows '-'
    instead of crashing on the None."""
    band = {"n": 2, "min": 0.0, "median": 0.0, "max": 0.0}
    md = markdown_table(annotate({"z": band}, {"z": 0.5}), top=5)
    assert "| z | 0.50 | [0.00, 0.00, 0.00] (n=2) | - | above_band |" in md


def test_cli_writes_band_document(tmp_path, capsys):
    for i, qs in enumerate([{"a": 1.0, "b": 2.0}, {"a": 1.2, "b": 6.0}]):
        (tmp_path / f"take{i}.json").write_text(json.dumps({"queries": qs}))
    (tmp_path / "cmp.json").write_text(json.dumps({"queries": {"a": 1.1, "b": 9.0}}))
    out_json = tmp_path / "spread.json"
    rc = main(
        [
            "--takes",
            str(tmp_path / "take0.json"),
            str(tmp_path / "take1.json"),
            "--compare",
            str(tmp_path / "cmp.json"),
            "--json",
            str(out_json),
        ]
    )
    assert rc == 0
    doc = json.loads(out_json.read_text())
    assert doc["bands"]["a"]["max"] == 1.2
    assert doc["annotated"]["a"]["label"] == "in_band"
    assert doc["annotated"]["b"]["label"] == "above_band"  # 9.0 > 6.0 * 1.10
    md = capsys.readouterr().out
    assert "above_band" in md and "| b |" in md


def test_load_take_rejects_empty(tmp_path):
    p = tmp_path / "empty.json"
    p.write_text(json.dumps({"queries": {}}))
    try:
        load_take(p)
    except ValueError as ex:
        assert "no per-query timings" in str(ex)
    else:  # pragma: no cover
        raise AssertionError("expected ValueError")
