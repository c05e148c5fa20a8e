"""Per-query expected-spread annotation from the BENCH_FULL take archive
(VERDICT r14 item 1 / r13 item 3).

Every round, the driver's single 32-core bench take crosses this host's
measured stall windows (tools/stall_attrib.py: sustained ~60 s windows at
3-13x the median on an idle host), so its movers table flags 10-20
"regressions" on code-untouched paths — each costing a manual cross-take
adjudication (bm25_ndcg, part_link_prediction, image_pipeline_stats are
repeat offenders across r12-r14). The archive already holds several quiet
takes of any given tree; this tool turns them into a per-query expected
band so a single hot reading self-labels as in-band scatter.

Band: [min, max] over the baseline takes, with a tolerance factor for
the comparison labels (default 1.10 above max / 0.90 below min — inside
the +-10-20% cold-JVM spread VERDICT r14 documents for untouched paths).
A reading above max*1.10 is a real regression CANDIDATE; everything
inside the stretched band is expected scatter and needs no adjudication.

Usage:
  python tools/spread_notes.py --takes BENCH_FULL_r14.7.json ... \
      [--compare BENCH_FULL_r15.json] [--json plans/r15/spread.json] \
      [--md-top 30]

Output: one JSON document (per-query n/min/median/max, plus per-query
labels for the --compare file) to --json and/or stdout, and a markdown
table of the most interesting comparison rows (above/below band first,
then widest bands) sized by --md-top for pasting into BENCH_NOTES.
Stdlib only; no Spark session.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from pathlib import Path


def load_take(path: str | Path) -> dict[str, float]:
    doc = json.loads(Path(path).read_text())
    qs = doc.get("queries")
    if not isinstance(qs, dict) or not qs:
        raise ValueError(f"{path}: no per-query timings")
    return {str(k): float(v) for k, v in qs.items()}


def bands(takes: list[dict[str, float]]) -> dict[str, dict[str, float]]:
    """Per-query band over the baseline takes: n, min, median, max.

    A query missing from some takes (a bench error in that take) keeps a
    band over the takes that have it — n records how many."""
    names: set[str] = set()
    for t in takes:
        names |= set(t)
    out: dict[str, dict[str, float]] = {}
    for name in sorted(names):
        vals = [t[name] for t in takes if name in t]
        out[name] = {
            "n": len(vals),
            "min": round(min(vals), 3),
            "median": round(statistics.median(vals), 3),
            "max": round(max(vals), 3),
        }
    return out


def label(band: dict[str, float], value: float, above: float = 1.10, below: float = 0.90) -> str:
    """in_band / above_band / below_band for one reading vs one band."""
    if value > band["max"] * above:
        return "above_band"
    if value < band["min"] * below:
        return "below_band"
    return "in_band"


def annotate(
    band_by_query: dict[str, dict[str, float]],
    reading: dict[str, float],
    above: float = 1.10,
    below: float = 0.90,
) -> dict[str, dict]:
    out: dict[str, dict] = {}
    for name, value in sorted(reading.items()):
        band = band_by_query.get(name)
        if band is None:
            out[name] = {"value": value, "label": "no_band"}
            continue
        out[name] = {
            "value": value,
            "label": label(band, value, above, below),
            "band": band,
            "vs_median": round(value / band["median"], 2) if band["median"] else None,
        }
    return out


def markdown_table(annotated: dict[str, dict], top: int) -> str:
    """The rows a round-notes reader needs: every out-of-band name, then
    the largest in-band excursions, capped at ``top`` rows."""
    rows = [
        (name, a)
        for name, a in annotated.items()
        if a["label"] != "no_band"
    ]
    rows.sort(
        key=lambda kv: (
            kv[1]["label"] == "in_band",  # out-of-band first
            -(kv[1]["vs_median"] or 0),
        )
    )
    lines = [
        "| query | take (s) | quiet band [min, med, max] (s) | vs median | label |",
        "|---|---|---|---|---|",
    ]
    for name, a in rows[:top]:
        b = a["band"]
        # a zero-median band has no ratio (annotate() sets None)
        vs = "-" if a["vs_median"] is None else f"{a['vs_median']:.2f}"
        lines.append(
            f"| {name} | {a['value']:.2f} | [{b['min']:.2f}, {b['median']:.2f}, "
            f"{b['max']:.2f}] (n={b['n']}) | {vs} | {a['label']} |"
        )
    n_out = sum(1 for _, a in rows if a["label"] != "in_band")
    lines.append(
        f"\n{n_out} of {len(rows)} queries outside the stretched band "
        "(above max*1.10 or below min*0.90); everything else is in-band scatter."
    )
    return "\n".join(lines)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--takes", nargs="+", required=True, help="baseline quiet-take BENCH_FULL files")
    ap.add_argument("--compare", help="a take/driver sidecar to annotate against the band")
    ap.add_argument("--json", dest="json_out", help="write the band (+ annotation) document here")
    ap.add_argument("--md-top", type=int, default=30, help="rows in the markdown table")
    ap.add_argument("--above", type=float, default=1.10, help="above-band factor on max")
    ap.add_argument("--below", type=float, default=0.90, help="below-band factor on min")
    args = ap.parse_args(argv)

    takes = [load_take(p) for p in args.takes]
    band_by_query = bands(takes)
    doc: dict = {
        "baseline_takes": [str(p) for p in args.takes],
        "above_factor": args.above,
        "below_factor": args.below,
        "bands": band_by_query,
    }
    if args.compare:
        annotated = annotate(band_by_query, load_take(args.compare), args.above, args.below)
        doc["compare"] = str(args.compare)
        doc["annotated"] = annotated
        print(markdown_table(annotated, args.md_top))
    if args.json_out:
        Path(args.json_out).parent.mkdir(parents=True, exist_ok=True)
        Path(args.json_out).write_text(json.dumps(doc, indent=1, sort_keys=True) + "\n")
        print(f"wrote {args.json_out}", file=sys.stderr)
    elif not args.compare:
        print(json.dumps(doc, indent=1, sort_keys=True))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
