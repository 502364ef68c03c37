#!/usr/bin/env python3
"""Regenerate SURVEY.md §8.2 — the per-query certification map.

Reads SparkEntry.scala (query -> implementing function -> file:line),
the newest sf1/sf10 BENCH_DETAIL files (second-decade ratio), and the
curated sizing/scale notes below; rewrites the block between the
GENERATED-QUERY-TABLE markers in SURVEY.md. Run after a decade
campaign: python3 scripts/gen_survey_map.py bench/BENCH_DETAIL_sf1_rNN.json bench/BENCH_DETAIL_sf10_rNN.json
"""
import json, os, re, sys, glob

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Sizing rules / scale notes, curated (the "would this survive 100x" column).
NOTES = {
    "q07": "sort-window per user key",
    "q08": "rank window per customer key",
    "q20": "shingle df-cap 50; zero-exchange codegen ShingleSet",
    "q21": "MinHash k=16, 4x4 LSH bands; collision-proportional",
    "q22": "codegen SimHash60; zero shuffle",
    "q23": "codegen TextStats; one byte-scan/row",
    "q26": "codegen WinnowMinima; zero shuffle",
    "q27": "LSH hyperplanes + multiProbe dial",
    "q29": "PINNED 4-plane oracle config (definitional)",
    "q31": "trained IVF quantizer, pinned OracleCells",
    "q32": "path-halving components; count-sized shuffles",
    "q33": "same fixpoint on embedding buckets",
    "q34": "planesFor(n) production sizing (q29's twin)",
    "q35": "composes q19+q32+q23; cost = sum of parts",
    "q39": "first-fit packing per source partition",
    "q42": "struct-max hash agg + join-back (no window buffering; r12)",
    "q44": "q20's shingle pipeline rolled up",
    "q45": "ALL-PAIRS brute = recall-1.0 baseline (definitional)",
    "q46": "pos-indexed explode; row-local",
    "q50": "Bloom pre-filter + exact-join confirm",
    "q52": "time-bucket equi-join + window predicate",
    "q53": "running-max window replay",
    "q56": "positional shingles + codegen RemoveSpans",
    "q61": "pair counts on vocab-sized relation",
    "q65": "band booleans vs in-query exact twins (r13)",
    "q68": "PINNED 10-cell oracle config (quadratic per toy cell)",
    "q69": "salting fan-out on skewed keys",
    "q70": "cellsFor(n) production sizing (q68's twin)",
    "q71": "postings-as-relation; query terms broadcast",
    "q72": "bigram LM, exact-integer log grid",
    "q73": "DSIR importance on hashed n-gram buckets",
    "q76": "two-level IVF: superFor(nCells) routing",
    "q77": "PQ 4x16 ADC; fused codebook expressions",
    "q79": "IVFADC: probed-cell pruning proven",
    "q80": "kFor(n) codebook sizing (K=256 from n>=2048)",
    "q81": "SQ8 64-group bounds grid",
    "q82": "routed IVF+SQ8; probed-cell equi-join",
    "q83": "ADC + exact re-rank, candidate-sized refine join",
    "q84": "grouped two-level probe kernel, saturating bit-exact",
    "q85": "raw-free tiers: 4 B/vec scan + 64 B/vec refine",
    "q86": "IDSelector rides the payload-attached tier scan",
    "q87": "train()/add() split; frozen-bounds clamp encode",
    "q88": "RRF on exact-integer grid; legs cached once",
    "q89": "radius cut on routed serve (no rank window)",
    "q90": "copy-on-write tombstone + vacuum + resolve",
    "q91": "OPQ-style variance-balanced permutation",
    "q92": "one grouped exchange; k=5 greedy in-group over <= r cands",
    "q93": "3 passes over cached postings; integer grid",
    "q94": "prefix+suffix blocks, cap 32; midBlock dial (r13)",
    "q95": "frozen-stats lexical ingest (q87's BM25 twin)",
    "q96": "semi-hard band over routed candidates",
    "q97": "group-keyed hash split on q32 components",
    "q98": "kFor+rFor refine (clustered-geometry remedy)",
    "q99": "4 Java==RE2 regex classes; zero-shuffle scan",
}

# Load-bearing specs beyond the oracle, curated.
SPECS = {
    "q16": "GlobProperties", "q17": "ReviewGateSpec", "q21": "LlmOpsSpec",
    "q28": "MultimodalSpec (hash-derived dimensions twin)", "q30": "EventWindowsSpec",
    "q42": "LlmOpsSpec", "q47": "EventWindowsSpec",
    "q65": "RelationalOpsSpec band doc", "q68": "EmbeddingsSpec",
    "q84": "routed-plan pin", "q86": "PlanAuditSpec no-BNLJ",
    "q87": "StorageSpec lifecycle", "q94": "LlmOpsSpec recall",
    "q97": "SamplingSpec", "q99": "PiiSpec",
}


def query_locations():
    src = open(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")).read()
    body = re.search(r"def queries.*?=\s*Map\((.*?)\n  \)", src, re.S).group(1)
    entries = re.findall(r'"(q\d{2}_\w+)"\s*->\s*(.*?)(?=,\n    (?:/|"q)|$)', body, re.S)
    files = {f: open(f).read().split("\n")
             for f in glob.glob(os.path.join(ROOT, "src/main/scala/graft/**/*.scala"),
                                recursive=True)}

    def find_def(mod, fn):
        for f, lines in files.items():
            if os.path.basename(f)[:-6] != mod:
                continue
            for i, line in enumerate(lines, 1):
                if re.search(r"\bdef %s\b" % re.escape(fn), line):
                    rel = f.split("src/main/scala/graft/")[1]
                    return "%s:%d" % (rel, i)
        return None

    out = {}
    for name, expr in entries:
        expr = " ".join(expr.split())
        where = None
        for mod, fn in re.findall(r"(\w+)\.(\w+)\(?", expr):
            if mod in ("s", "d", "col", "Seq", "spark"):
                continue
            where = find_def(mod, fn)
            if where:
                break
        assert where, name
        out[name] = where
    return out


def main():
    sf1, sf10 = sys.argv[1], sys.argv[2]
    d1 = json.load(open(os.path.join(ROOT, sf1)))["queries_min"]
    d10 = json.load(open(os.path.join(ROOT, sf10)))["queries_min"]
    locs = query_locations()
    rows = ["| query | implementation | gate | sizing / scale notes | sf1→sf10 |",
            "|---|---|---|---|---|"]
    for name in sorted(locs):
        q = name[:3]
        ratio = "—"
        if name in d1 and name in d10 and d1[name] > 0:
            ratio = "%.1f×" % (d10[name] / d1[name])
        gate = "oracle" + ("; " + SPECS[q] if q in SPECS else "")
        rows.append("| %s | %s | %s | %s | %s |"
                    % (name, locs[name], gate, NOTES.get(q, "—"), ratio))
    intro = (
        "All 99 graded queries, hash-oracle-gated (since r13 — no rows-only\n"
        "entries). `sf1→sf10` = second-decade min-of-two ratio from the\n"
        "newest campaign (%s / %s; the linear-ish band at 100× bench SF is\n"
        "~3-10×, data-growth ≈ 10× against fixed per-query overhead; the\n"
        ">15× entries are the three definitional pinned-config baselines\n"
        "plus, since the r14 union-find, cluster-resolution members whose\n"
        "sf1 BASE collapsed to the candidate-generation floor — their sf10\n"
        "cost is the generator's, see the SCALING_r14.md addendum).\n"
        "First-decade ratios and analysis: the SCALING_r{N}.md reports.\n"
        "Regenerate: `python3 scripts/gen_survey_map.py <sf1 detail> <sf10 detail>`.\n"
        % (os.path.basename(sf1), os.path.basename(sf10)))
    block = intro + "\n" + "\n".join(rows)
    survey = os.path.join(ROOT, "SURVEY.md")
    txt = open(survey).read()
    marker = "<!-- GENERATED-QUERY-TABLE -->"
    start = txt.index(marker)
    end_heading = "\n### 8.3"
    # search FROM the marker (ADVICE r13): an end-heading occurrence
    # earlier in the file would otherwise slice backwards and silently
    # corrupt SURVEY.md
    end = txt.index(end_heading, start)
    assert end > start, "generated-table end heading precedes its marker"
    open(survey, "w").write(
        txt[:start] + marker + "\n\n" + block + "\n" + txt[end:])
    print("wrote %d table rows" % (len(rows) - 2))


if __name__ == "__main__":
    main()
