"""Generate SCALE_rN.json — the per-round scale-validation artifact.

Runs the two existing probes and folds their outputs into one committed
JSON so scaling-exponent regressions are caught round-over-round like
bench regressions (VERDICT r5 "Next round" #4):

- ``scripts/scale_run.py`` at scale 1 and 10 (synthetic sf1/sf10 —
  10x / 100x the bench inputs — through the unmodified bench harness,
  plus the keyed long-frame decade probe);
- ``scripts/scale_ext.py`` (extension families: dedup/LSH/substring,
  LM scoring, events, DSIR, containment, interval join, ANN — 1x vs 10x
  with per-operator exponents).

Usage:  python scripts/gen_scale.py <round> [--skip-sf10] [--deep4]

--deep4 extends the instrumented per-stage dedup probe with a FOURTH
point at 5M docs (r10 verdict item 5: pin the exponent story with a
third measured decade-ish step on shipped defaults, or record the
disk-bound free-disk trace — the probe returns a partial trace instead
of dying when the box's disk is the ceiling).

Synthetic inputs are cached under /tmp/as_scale; a warm second run is
dominated by the measured queries, not synthesis.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def last_json_lines(stdout: str) -> list[dict]:
    out = []
    for line in stdout.splitlines():
        line = line.strip()
        if line.startswith("{"):
            try:
                out.append(json.loads(line))
            except json.JSONDecodeError:
                pass
        elif ": {" in line:  # "1x: {...}" progress lines
            try:
                out.append(json.loads(line.split(": ", 1)[1]))
            except json.JSONDecodeError:
                pass
    return out


def run(cmd: list[str]) -> str:
    print("::", " ".join(cmd), flush=True)
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=7200, cwd=REPO)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-2000:] + "\n" + p.stderr[-4000:] + "\n")
        raise SystemExit(f"{cmd} failed")
    sys.stdout.write(p.stdout)
    return p.stdout


def main() -> None:
    rnd = int(sys.argv[1])
    skip_sf10 = "--skip-sf10" in sys.argv
    py = sys.executable

    result: dict = {"round": rnd, "financial": {}, "extensions": None}

    for scale in ([1.0] if skip_sf10 else [1.0, 10.0]):
        out = last_json_lines(
            run([py, f"{REPO}/scripts/scale_run.py", "/tmp/as_scale", str(scale)])
        )
        final = next(o for o in reversed(out) if o.get("metric") == "scale_validation")
        result["financial"][f"sf{scale:g}"] = final

    # --deep3 adds the 100x point for the four heaviest probes (r7 verdict
    # item 3: two-decade exponents for containment / overlap matrix /
    # lsh_deduplicate / knn_join) AND a third deep point (2M docs — 5M
    # exceeds the box's free disk, see scale_ext.run_deep3_suite) for
    # the two whose second-decade exponent was 0.57 (r8 verdict item 4)
    ext = last_json_lines(run([py, f"{REPO}/scripts/scale_ext.py", "--deep3"]))
    result["extensions"] = next(o for o in reversed(ext) if "exponent" in o)

    # r9 verdict item 1: the instrumented per-stage replica of the composed
    # LSH dedup at 500k/1M/2M docs — row counts, wall seconds, free disk and
    # cluster iterations per stage, so the deep-scale wall exponent is
    # attributable to a stage (algorithm) or to none (the box's disk)
    st = last_json_lines(
        run([py, f"{REPO}/scripts/scale_ext.py", "--deep3-stages"]
            + (["--deep4"] if "--deep4" in sys.argv else []))
    )
    stage_out = next(o for o in reversed(st) if "deep3_stages" in o)
    result["deep3_stages"] = stage_out["deep3_stages"]
    result["deep3_stage_exponents"] = stage_out["deep3_stage_exponents"]
    result["stamp_deep3_stages"] = stage_out.get("stamp_presession")

    # r12: the curate_corpus composition probe (500k/1M docs, per-stage
    # walls) — r11 verdict item 5
    if "--curation" in sys.argv:
        cu = last_json_lines(run([py, f"{REPO}/scripts/scale_ext.py", "--curation"]))
        result["curation"] = next(o for o in reversed(cu) if "curation" in o)["curation"]

    # r12: fold pre-computed A/B artifacts (band-ab/cap-sweep ran hours
    # before the r12 flip) — passed in as files so long probes can run
    # separately
    for flag, key in (("--band-ab-file", "banding_ab"),
                      ("--cap-sweep-file", "cap_sweep"),
                      ("--curation-file", "curation"),
                      ("--tfidf-pairs-file", "tfidf_pairs")):
        if flag in sys.argv:
            with open(sys.argv[sys.argv.index(flag) + 1]) as f:
                loaded = json.load(f)
            result[key] = loaded[key]
            if "stamp_presession" in loaded:
                result[f"stamp_{key}"] = loaded["stamp_presession"]

    path = f"{REPO}/SCALE_r{rnd:02d}.json"
    with open(path, "w") as f:
        json.dump(result, f, indent=1)
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
