#!/usr/bin/env python
"""Full-inventory 16x oracle sweep -> CHECK_r{N}_scale16x.json.

Runs tools/check.py's sweep over every registered key at the
.tmp/scale16x replicated-copy dir, EXCEPT d14_canonical_pick's DuckDB
oracle, which is ENOSPC-infeasible at 16x by construction (the oracle
deliberately restates the pair stream as brute-force exact Jaccard
over all pairs; at 16x it spilled >79 GB of DuckDB temp in round 11
— more than this machine's free disk). d14 is instead verified by
tools/verify_d14_16x.py's EXACT lifted replay (disk-bounded; see the
theorem there), and its cell is patched into the artifact from that
run, so the sweep has zero unverified and zero infeasible cells.

CHUNKED since round 12: one check.py subprocess per CHUNK of keys,
each with a fresh JVM. The round-12 single-process run died mid-sweep
(py4j gateway gone — driver memory creep across ~50 16x keys,
d2's MLlib MinHashLSH the straw), which turned every later key into a
spurious 'spark query raised' fail. Chunking bounds driver lifetime;
per-chunk partial artifacts are merged at the end, so a crashed chunk
costs only its own keys (retried once) and is LABELED failed rather
than poisoning the rest.

Usage:
  python tools/run_check_scale16x.py CHECK_rN_scale16x.json [key ...]
(~hours for the full inventory; do NOT edit hive_to_es_spark/ modules
while it runs. Pass explicit keys for a subset run — the artifact then
records exactly those keys.)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hive_to_es_spark.registry import queries
from tools.scale_proof import scaled_dir

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CHUNK = 20  # keys per fresh-JVM check.py subprocess


def _run_chunk(chunk: list[str], sdir: str, idx: int) -> dict:
    """One check.py subprocess; returns its per-key results dict."""
    part = os.path.join(REPO, f".tmp/check16x_part{idx}.json")
    subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "check.py"),
            "--json",
            part,
            "--sf-dirs",
            sdir,
            *chunk,
        ],
        cwd=REPO,
    )
    try:
        with open(part) as f:
            art = json.load(f)
        ((_, results),) = art["sweeps"].items()
        return results
    except Exception as ex:  # chunk crashed before writing
        return {k: {"status": "fail", "err": f"chunk crashed: {ex}"} for k in chunk}
    finally:
        try:
            os.remove(part)
        except OSError:
            pass


def main() -> int:
    out = sys.argv[1] if len(sys.argv) > 1 else "CHECK_scale16x.json"
    want = sys.argv[2:]  # optional explicit subset
    sdir = scaled_dir(16)
    if not os.path.isdir(os.path.join(sdir, "documents.parquet")):
        print("scale16x dir missing — build it first (tools/verify_d14_16x.py 16)")
        return 1

    # Priority order (round 13): the s-family ANN keys sweep FIRST —
    # they are the family whose 16x re-run was owed after round 12's
    # mid-sweep JVM death — then the multi-minute d-family heavies,
    # then everything else alphabetically. Combined with the
    # per-chunk incremental artifact write below, an interrupted
    # sweep now always leaves a valid artifact whose missing keys are
    # the CHEAP tail, not the owed families.
    def prio(k: str) -> tuple:
        fam = k.split("_")[0][0]
        return (0 if fam == "s" else 1 if fam == "d" else 2, k)

    all_keys = sorted(
        (k for k in queries() if k != "d14_canonical_pick"), key=prio
    )
    keys = [k for k in all_keys if not want or k in want]

    # 1) d14 via the lifted replay (fast; also builds nothing extra)
    results: dict[str, dict] = {}
    if not want or "d14_canonical_pick" in want:
        d14 = subprocess.run(
            [sys.executable, os.path.join(REPO, "tools", "verify_d14_16x.py"), "16"],
            capture_output=True,
            text=True,
        )
        results["d14_canonical_pick"] = json.loads(
            d14.stdout.strip().splitlines()[-1]
        )["d14_canonical_pick"]
        print(f"d14 lifted replay: {results['d14_canonical_pick']['status']}")

    # 2) everything else through chunked fresh-JVM sweeps; EVERY
    #    failed key gets one fresh-JVM retry — that covers both the
    #    mid-run 'spark query raised' poisoning AND a chunk that died
    #    before writing its partial artifact ('chunk crashed: ...'),
    #    while a deterministic fail just fails again and keeps its
    #    label (ADVICE r12: the old 'raised'-substring filter skipped
    #    the crashed-chunk class the docstring promised to retry)
    for idx in range(0, len(keys), CHUNK):
        chunk = keys[idx : idx + CHUNK]
        got = _run_chunk(chunk, sdir, idx // CHUNK)
        retry = [
            k for k in chunk if got.get(k, {}).get("status") == "fail"
        ]
        if retry:
            print(f"retrying {len(retry)} keys from crashed/failed chunk {idx // CHUNK}")
            got.update(_run_chunk(retry, sdir, 1000 + idx // CHUNK))
        results.update(got)
        done = sum(1 for r in results.values() if r.get("status") == "pass")
        print(f"[chunk {idx // CHUNK}] cumulative: {done} pass / {len(results)} run")
        # incremental write: an interrupted sweep still leaves a
        # valid, reproducible artifact (pending keys labeled)
        _write(out, results, want, all_keys)

    _write(out, results, want, all_keys, final=True)
    n_fail = sum(1 for r in results.values() if r["status"] == "fail")
    return 0 if n_fail == 0 else 1


def _write(out, results, want, all_keys, final: bool = False) -> None:
    """Write the merged artifact; every registered key not (yet)
    swept carries an explicit not_run_this_round cell, so partial
    and subset artifacts alike are reproducible from this tool
    (ADVICE r12: the r12 summary's not_run count was hand-patched,
    with no per-key cells)."""
    cells = dict(results)
    for k in ["d14_canonical_pick", *all_keys]:
        if k not in cells:
            cells[k] = {
                "status": "not_run_this_round",
                "err": (
                    "subset run: key not in the requested list"
                    if want
                    else "sweep still in progress when this artifact "
                    "was written"
                ),
            }
    art = {
        "keys_total": len(cells),
        "summary": {
            "scale16x": {
                s: sum(1 for r in cells.values() if r["status"] == s)
                for s in ("pass", "fail", "rows_only", "not_run_this_round")
            }
        },
        "sweeps": {"scale16x": cells},
    }
    if want:
        art["note"] = (
            "subset run: only the listed keys were swept at 16x this round; "
            "unswept keys carry explicit not_run_this_round cells"
        )
    elif not final:
        art["note"] = "incremental snapshot: sweep still in progress"
    with open(os.path.join(REPO, out), "w") as f:
        json.dump(art, f, indent=1, sort_keys=True)
    print(f"wrote {out}: {art['summary']}")


if __name__ == "__main__":
    raise SystemExit(main())
