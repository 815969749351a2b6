#!/usr/bin/env python3
"""List every `spark.graft.*` conf key and `SPARK_GRAFT_*` env var read
under src/main, with file:line for each read site.

A read is a quoted string literal naming the knob (conf keys and env
vars are only ever read through literals or constants holding them);
mentions in comments do not count. Exits 1 if a `spark.graft.*` key or
a `SPARK_GRAFT_*` env var is missing from README.md, so a new knob
cannot ship undocumented, or if an env var is read at more than one
site, so two mains cannot drift apart on its default again. Also exits
1 if a `treeAggregate(` call or a `getNumPartitions < 16` fan-out test
appears outside core/Jobs.scala: partition buffers merge, and small
scans fan out, at one site each (`Jobs.treeReduce`, `Jobs.fanOut`).
Likewise a `percentile_approx(`, `approxQuantile(` or
`valuesAtRanksGrouped(` call outside core/Windows.scala: bucket-boundary
sketches and grouped order statistics are built there
(`Windows.boundaryLane`, `Windows.groupedOrderStats`).
And exits 1 if a fitted or request-derived double (coefficients,
(X'X)^-1, sigma^2, z, budget, pro-rata ratio, the prefix-sum offsets of
`Windows.exclusivePrefixSum`, the effective allocation budget, AKM's
reference-firm effect, the PCA eigenvalue and JL scales, the quality
threshold) enters a plan through `lit(`: Spark writes
a literal into the generated source, so every new value compiles a new
class. Such values go through `graft.functions.Param`.
The grouped rank-pick has one route: exits 1 on a `lit(`, `isin(` or
`broadcast(` call inside `Windows.valuesAtRanksGrouped` (its tables
enter the plan through `graft.functions.SortedLookup`), and on any
mention under src/main of the switches and helpers that lookup replaced
(`KeyedOffset`, `precomputedBoundaries`, `broadcastableGroups`,
`caseOver`).
Driver-held results have one route: exits 1 on a
`sparkContext.parallelize(` call in Queries.scala, QueriesExt.scala or
decompose/Oaxaca.scala; their few result rows become local relations
(`Queries.local`, or `createDataFrame(rows.asJava, schema)`).
The engine has one conf key: exits 1 on a `spark.graft.*` key other
than `spark.graft.dedup.candidateBudget`, and on any mention under
src/main of the spec-only Dedup switches that went (`verifyKernel`,
`setBroadcastBytes`, `SetBroadcastBytesKey`, `directPathMaxPairs`);
specs force a Dedup route through `Dedup.ngramJaccardPairsVia`.
Connected components have one kernel: exits 1 on any mention under
src/main of AKM's deleted label-propagation loops
(`driverComponentWorkers`, `distributedComponentWorkers`,
`semiJoinWorkers`); AKM's largest connected set runs on
`Cluster.connectedComponents` and `Cluster.driverComponents`.
IRLS has one Newton loop: exits 1 on a `new IrlsDesign(` or `gramMulti(`
call outside core/Irls.scala (`Irls.newton` is the only caller of the
pass). Lane-0 level tracking has no cap: exits 1 on any mention under
src/main of `TrackCap` or `trackOverflow`.

Usage: python3 tools/list_knobs.py
"""
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PATTERN = re.compile(r'"((?:spark\.graft\.[A-Za-z0-9_.]+)|(?:SPARK_GRAFT_[A-Z0-9_]+))"')
JOBS = os.path.join("src", "main", "scala", "graft", "core", "Jobs.scala")
WINDOWS = os.path.join("src", "main", "scala", "graft", "core", "Windows.scala")
IRLS = os.path.join("src", "main", "scala", "graft", "core", "Irls.scala")
ONE_SITE = {
    JOBS: ("treeAggregate(", "getNumPartitions < 16"),
    WINDOWS: ("percentile_approx(", "approxQuantile(", "valuesAtRanksGrouped("),
    IRLS: ("new IrlsDesign(", "gramMulti("),
}
FITTED_LIT = re.compile(r"lit\((beta|covInv|sigma2|zScore|effective|ratio|refVal"
                        r"|math\.sqrt\(model\.eigenvalues|scale\b|meanScore)")
DEF = re.compile(r"\bdef (\w+)")
RANK_PICK_CALLS = ("lit(", "isin(", "broadcast(")
REPLACED = ("KeyedOffset", "precomputedBoundaries", "broadcastableGroups",
            "caseOver")
CONF_KEYS = ("spark.graft.dedup.candidateBudget",)
DEDUP_SWITCHES = ("verifyKernel", "setBroadcastBytes", "SetBroadcastBytesKey",
                  "directPathMaxPairs")
AKM_LOOPS = ("driverComponentWorkers", "distributedComponentWorkers",
             "semiJoinWorkers")
TRACK_CAP = ("TrackCap", "trackOverflow")
GRAFT = os.path.join("src", "main", "scala", "graft")
LOCAL_RESULTS = tuple(os.path.join(GRAFT, *f) for f in (
    ("Queries.scala",), ("QueriesExt.scala",), ("decompose", "Oaxaca.scala")))


def scan():
    knobs = {}
    strays = []
    literals = []
    switches = []
    rdds = []
    dedup = []
    loops = []
    caps = []
    src = os.path.join(ROOT, "src", "main")
    for dirpath, _, files in sorted(os.walk(src)):
        for f in sorted(files):
            if not f.endswith(".scala"):
                continue
            path = os.path.join(dirpath, f)
            rel = os.path.relpath(path, ROOT)
            with open(path, encoding="utf-8") as fh:
                in_def = None
                for n, line in enumerate(fh, 1):
                    code = line.split("//", 1)[0]
                    switches += [f"{rel}:{n}: {w}" for w in REPLACED if w in line]
                    dedup += [f"{rel}:{n}: {w}" for w in DEDUP_SWITCHES
                              if w in line]
                    loops += [f"{rel}:{n}: {w}" for w in AKM_LOOPS if w in line]
                    caps += [f"{rel}:{n}: {w}" for w in TRACK_CAP if w in line]
                    for m in PATTERN.finditer(code):
                        knobs.setdefault(m.group(1), []).append(f"{rel}:{n}")
                    if code.lstrip().startswith(("*", "/*")):
                        continue
                    d = DEF.search(code)
                    in_def = d.group(1) if d else in_def
                    for site, calls in ONE_SITE.items():
                        if rel != site:
                            strays += [(site, f"{rel}:{n}: {p}")
                                       for p in calls if p in code]
                    if FITTED_LIT.search(code) or (
                            in_def == "exclusivePrefixSum" and "lit(off)" in code):
                        literals.append(f"{rel}:{n}: {code.strip()}")
                    if in_def == "valuesAtRanksGrouped":
                        switches += [f"{rel}:{n}: {p}" for p in RANK_PICK_CALLS
                                     if p in code]
                    if rel in LOCAL_RESULTS and "sparkContext.parallelize(" in code:
                        rdds.append(f"{rel}:{n}: {code.strip()}")
    return knobs, strays, literals, switches, rdds, dedup, loops, caps


def main():
    knobs, strays, literals, switches, rdds, dedup, loops, caps = scan()
    with open(os.path.join(ROOT, "README.md"), encoding="utf-8") as fh:
        readme = fh.read()
    conf = sorted(k for k in knobs if k.startswith("spark.graft."))
    env = sorted(k for k in knobs if k.startswith("SPARK_GRAFT_"))
    missing = [k for k in conf + env if k not in readme]
    repeated = [k for k in env if len(knobs[k]) > 1]
    extra = [k for k in conf if k not in CONF_KEYS]
    for title, keys in (("conf keys", conf), ("env vars", env)):
        print(f"{title} ({len(keys)}):")
        for k in keys:
            print(f"  {k}  {', '.join(knobs[k])}")
    for k in missing:
        print(f"MISSING from README.md: {k}", file=sys.stderr)
    for k in repeated:
        print(f"READ AT {len(knobs[k])} SITES (one allowed): {k}", file=sys.stderr)
    for k in extra:
        print(f"CONF KEY BEYOND {', '.join(CONF_KEYS)}: {k}", file=sys.stderr)
    for site, s in strays:
        print(f"OUTSIDE {site}: {s}", file=sys.stderr)
    for s in literals:
        print(f"FITTED VALUE AS lit( (use Param): {s}", file=sys.stderr)
    for s in switches:
        print(f"RANK-PICK SWITCH (use SortedLookup): {s}", file=sys.stderr)
    for s in rdds:
        print(f"DRIVER RESULT AS RDD (use Queries.local): {s}", file=sys.stderr)
    for s in dedup:
        print(f"DEDUP ROUTE SWITCH (force via ngramJaccardPairsVia): {s}",
              file=sys.stderr)
    for s in loops:
        print(f"CONNECTED-COMPONENTS LOOP (use Cluster): {s}", file=sys.stderr)
    for s in caps:
        print(f"LEVEL-TRACKING CAP (track every value): {s}", file=sys.stderr)
    return 1 if (missing or repeated or extra or strays or literals or switches
                 or rdds or dedup or loops or caps) else 0


if __name__ == "__main__":
    sys.exit(main())
