"""Output checks: planted-truth recovery for epoch_frame, and the DuckDB
oracle (tools/compare.py) for the suites."""
import glob
import json
import os
import re
import statistics
import subprocess
import sys

MATCH_PX = 1.5
# bounds the benchmark fixes for epoch_frame (a run outside them fails)
MIN_STAR_RECALL = 0.9
MAX_FLUX_REL_ERR_P50 = 0.10


def match_stars(truth, rows):
    """Match planted stars to catalog rows (x, y, flux).

    The combined frame is aligned to one of the input frames, so positions
    are tried against each frame's dither and the best alignment is kept.
    A star is recovered when a row lies within MATCH_PX; its measured flux
    is the sum over such rows (later photometry rounds top up residuals).
    Returns (recovered, planted, [relative flux errors])."""
    best = (-1, [])
    for dx, dy in truth["dithers"]:
        errs = []
        for x, y, flux in truth["stars"]:
            near = [f for rx, ry, f in rows
                    if (rx - x - dx) ** 2 + (ry - y - dy) ** 2 <= MATCH_PX ** 2]
            if near:
                errs.append(abs(sum(near) - flux) / flux)
        if len(errs) > best[0]:
            best = (len(errs), errs)
    return best[0], len(truth["stars"]), best[1]


def read_catalog(path):
    import pyarrow.parquet as pq
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    rows = []
    for f in files:
        t = pq.read_table(f, columns=["xcentroid", "ycentroid", "flux"])
        rows += zip(*(t.column(c).to_pylist()
                      for c in ("xcentroid", "ycentroid", "flux")))
    return rows


def check_epochs(catalogs):
    """catalogs: [(truth, catalog dir)]. Returns the detail, with the
    failed checks under "problems"."""
    found = planted = 0
    errs = []
    for truth, path in catalogs:
        f, n, e = match_stars(truth, read_catalog(path))
        found, planted, errs = found + f, planted + n, errs + e
    recall = found / planted if planted else 0.0
    err_p50 = statistics.median(errs) if errs else float("inf")
    problems = []
    if recall < MIN_STAR_RECALL:
        problems.append(f"star_recall {recall:.3f} < {MIN_STAR_RECALL}")
    if err_p50 > MAX_FLUX_REL_ERR_P50:
        problems.append(f"flux_rel_err_p50 {err_p50:.4f} > {MAX_FLUX_REL_ERR_P50}")
    return {"star_recall": recall, "flux_rel_err_p50": err_p50,
            "stars_planted": planted, "catalogs": len(catalogs),
            "problems": problems}


def check_oracle(root, dump, sf, log):
    """Run tools/compare.py over a Verify-layout dump. Returns the detail,
    with the failed checks under "problems"."""
    with open(os.path.join(dump, "oracle_sql.json")) as fh:
        checked = sorted(json.load(fh))
    proc = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "compare.py"), dump, sf],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=120)
    with open(log, "w") as fh:
        fh.write(proc.stdout)
    passed = sorted(set(re.findall(r"^PASS (\S+)", proc.stdout, re.M)))
    share = len(passed) / len(checked) if checked else 1.0
    problems = [] if share == 1.0 and proc.returncode == 0 else [
        f"oracle: {len(passed)}/{len(checked)} queries match DuckDB "
        f"(compare.py exit {proc.returncode}; see {log})"]
    return {"oracle_pass_share": share, "oracle_checked": checked,
            "oracle_failed": [q for q in checked if q not in passed],
            "problems": problems}
