"""Prints the cross-round table of the fixed-work calibration probes that
graft.Bench records in every committed BENCH_*.json artifact, next to the
artifact's total, so totals from different rounds can be set against the
speed of the machine each one was measured on.

    python3 perfbench/calibration_table.py [repo root]

Columns: the artifact, its round, its suite (the headline ten or the whole
registry), the cores and scale factor it ran at, its total (seconds), the
calibration block (serial CPU spin, parquet scan, parallel spin), the
start-of-run reference probes (short spin, scan) and the total divided by
the scan probe. A dash means the artifact predates that probe. The
benchmark records the same short spin and scan probe in the context line
of every run as spin_ref_s and scan_ref_s.
"""
import glob
import json
import os
import re
import sys


def rows(root):
    for path in glob.glob(os.path.join(root, "BENCH_*.json")):
        with open(path) as fh:
            doc = json.load(fh)
        # the per-round BENCH_rNN.json files wrap Bench's line in "parsed"
        bench = doc.get("parsed") if isinstance(doc.get("parsed"), dict) else doc
        calib = bench.get("calibration") or {}
        probes = bench.get("probes") or {}
        name = os.path.basename(path)
        m = re.search(r"_r(\d+)", name)
        sf = doc.get("sf") or bench.get("sf")
        if isinstance(sf, str):
            found = re.search(r"sf([0-9.]+)", sf)
            sf = float(found.group(1)) if found else sf
        yield {
            "artifact": name,
            "round": int(m.group(1)) if m else -1,
            "suite": "all" if "_all_" in name else "headline",
            "cores": doc.get("cpus", 4 if "local4" in name else None),
            "sf": sf,
            "total_s": bench.get("value"),
            "cpu_spin_s": calib.get("cpu_spin_s"),
            "scan_s": calib.get("scan_s"),
            "par_spin_s": calib.get("par_spin_s"),
            "spin_ref_s": probes.get("spin_ref_s"),
            "scan_ref_s": probes.get("scan_ref_s"),
        }


def fmt(v, digits=3):
    if v is None:
        return "-"
    if isinstance(v, float):
        return f"{v:.{digits}f}"
    return str(v)


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    table = sorted(rows(root), key=lambda r: (r["round"], r["artifact"]))
    cols = ["artifact", "round", "suite", "cores", "sf", "total_s", "cpu_spin_s", "scan_s",
            "par_spin_s", "spin_ref_s", "scan_ref_s", "total/scan"]
    print("| " + " | ".join(cols) + " |")
    print("|" + "---|" * len(cols))
    for r in table:
        ratio = r["total_s"] / r["scan_s"] if r["total_s"] and r["scan_s"] else None
        print("| " + " | ".join(fmt(c) for c in [r[k] for k in cols[:-1]] + [ratio]) + " |")


if __name__ == "__main__":
    main()
