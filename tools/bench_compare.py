#!/usr/bin/env python3
"""Round-over-round bench adjudication (VERDICT r12 item 4) — the
comparison the close notes previously derived by hand in ROUNDLOG prose.

Takes a CANDIDATE bench artifact and one or more BASELINE artifacts,
emits per-query calibrated ratios against EACH baseline, the medians
that matter (the machine has uniform noise phases, so the per-query
calibrated MEDIAN across mostly-untouched queries is the only trustable
total-movement signal), and flags every >= threshold reading so it can
be adjudicated with a same-phase standalone run of that query
(`graft.Bench <query>`, SPARK_GRAFT_REPS reps) instead of being mistaken
for a regression.

Artifacts are the FULL bench dumps (bench_out_sf0.1.json — the file the
`full` field of the stdout line points at). A baseline from an earlier
round comes out of git history: pass `REV:path` (e.g.
`125b06c:bench_out_sf0.1.json`) and the tool shells out to `git show`.

Usage:
  python3 tools/bench_compare.py CANDIDATE BASELINE [BASELINE2 ...]
      [--threshold=2.0]
      [--adjudicated=q_name=prof_secs,q_name2=prof_secs]
      [--json]

--adjudicated records same-phase standalone medians for flagged queries:
the flag line then shows the standalone ratio next to the artifact ratio,
and the markdown marks the reading adjudicated.
"""
import json
import statistics
import subprocess
import sys


def load(spec):
    if ":" in spec:
        # REV:path — resolve through git history
        rev, _, path = spec.partition(":")
        try:
            out = subprocess.run(["git", "show", f"{rev}:{path}"],
                                 capture_output=True, check=True)
            return spec, json.loads(out.stdout)
        except subprocess.CalledProcessError:
            pass  # fall through: maybe a plain filename with a colon
    with open(spec) as f:
        return spec, json.load(f)


def calib(art):
    """CPU calibration factor (raw, the in-artifact probe) — ratios divide
    it out so a noise phase in either run cancels."""
    return art.get("calib_factor_raw") or art.get("calib_factor") or 1.0


def calib_mt(art):
    return art.get("calib_mt_factor_raw")


def main(argv):
    args = [a for a in argv if not a.startswith("--")]
    opts = [a for a in argv if a.startswith("--")]
    if len(args) < 2:
        print(__doc__)
        return 2
    threshold = 2.0
    adjudicated = {}
    as_json = "--json" in opts
    for o in opts:
        if o.startswith("--threshold"):
            if "=" not in o:
                print("use --threshold=N (space-separated form not supported)")
                return 2
            threshold = float(o.split("=", 1)[1])
        if o.startswith("--adjudicated"):
            if "=" not in o:
                print("use --adjudicated=q=secs[,q=secs...]")
                return 2
            for kv in o.split("=", 1)[1].split(","):
                k, _, v = kv.partition("=")
                adjudicated[k] = float(v)

    cand_name, cand = load(args[0])
    cq, ccal, ccal_mt = cand["queries"], calib(cand), calib_mt(cand)
    report = {"candidate": cand_name, "threshold": threshold,
              "total_raw": cand.get("value"),
              "calib_factor_raw": ccal, "calib_mt_factor_raw": ccal_mt,
              "total_calibrated": cand.get("calibrated_value"),
              "total_calibrated_mt": cand.get("calibrated_value_mt"),
              "baselines": []}

    for spec in args[1:]:
        bname, base = load(spec)
        bq, bcal, bcal_mt = base["queries"], calib(base), calib_mt(base)
        shared = sorted(set(cq) & set(bq))
        ratios = {}
        for q in shared:
            if bq[q] <= 0:
                continue
            ratios[q] = (cq[q] / ccal) / (bq[q] / bcal)
        def med_of(vals):
            vals = list(vals)
            return statistics.median(vals) if vals else None
        med = med_of(ratios.values())
        med_raw = med_of(cq[q] / bq[q] for q in shared if bq[q] > 0)
        med_mt = None
        if ccal_mt and bcal_mt:
            med_mt = med_of((cq[q] / ccal_mt) / (bq[q] / bcal_mt)
                            for q in shared if bq[q] > 0)
        flags = []
        for q, r in sorted(ratios.items(), key=lambda kv: -kv[1]):
            if r < threshold:
                break
            f = {"query": q, "cand_sec": cq[q], "base_sec": bq[q],
                 "calibrated_ratio": round(r, 3)}
            if q in adjudicated:
                # same-phase standalone median, calibrated the same way
                f["prof_sec"] = adjudicated[q]
                f["prof_ratio"] = round((adjudicated[q] / ccal)
                                        / (bq[q] / bcal), 3)
                f["adjudicated"] = True
            else:
                f["adjudicated"] = False
            flags.append(f)
        report["baselines"].append({
            "baseline": bname,
            "n_shared": len(shared),
            "only_in_candidate": sorted(set(cq) - set(bq)),
            "only_in_baseline": sorted(set(bq) - set(cq)),
            "median_calibrated_ratio": round(med, 3) if med else None,
            "median_raw_ratio": round(med_raw, 3) if med_raw else None,
            "median_mt_calibrated_ratio": round(med_mt, 3) if med_mt else None,
            "flags": flags})

    if as_json:
        print(json.dumps(report, indent=2))
        return 0

    # markdown — paste-ready for the round close notes
    print(f"## Bench comparison — `{cand_name}` "
          f"(raw {report['total_raw']} s, calib {ccal}"
          + (f", mt {ccal_mt}" if ccal_mt else "") + ")\n")
    for b in report["baselines"]:
        print(f"### vs `{b['baseline']}` ({b['n_shared']} shared queries)")
        print(f"- median per-query calibrated ratio: "
              f"**{b['median_calibrated_ratio']}** "
              f"(raw {b['median_raw_ratio']}"
              + (f", mt-calibrated {b['median_mt_calibrated_ratio']}"
                 if b['median_mt_calibrated_ratio'] else "") + ")")
        if b["only_in_candidate"]:
            print(f"- new queries (excluded from medians): "
                  f"{', '.join(b['only_in_candidate'])}")
        if b["only_in_baseline"]:
            print(f"- removed queries: {', '.join(b['only_in_baseline'])}")
        if not b["flags"]:
            print(f"- no calibrated reading >= {threshold}x")
        for f in b["flags"]:
            adj = (f" — ADJUDICATED: same-phase standalone {f['prof_sec']} s "
                   f"-> ratio {f['prof_ratio']}" if f["adjudicated"]
                   else " — UNADJUDICATED: run "
                        f"`sbt \"runMain graft.Bench {f['query']}\"` in the "
                        "same phase before calling it a regression")
            print(f"- FLAG {f['query']}: {f['base_sec']} -> {f['cand_sec']} s "
                  f"(calibrated {f['calibrated_ratio']}x){adj}")
        print()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
