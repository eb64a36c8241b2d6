#!/usr/bin/env python3
"""Gate-sensitivity (mutation) check: prove the oracle gate can FAIL.

The correctness gate has been all-green for several rounds; an all-green
gate is only trustworthy if planted bugs turn rows red. This script
injects deliberate one-line semantic mutations into library/query code,
recompiles, runs ONLY the affected gate query through Verify + the
DuckDB compare, records whether the row went red, and reverts the
mutation. Output: MUTATION_r<N>.json with one record per mutation;
exit 1 if any planted bug was NOT caught.

Usage: python3 tools/mutation_check.py [sf_dir] [out_json]
"""
import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else str(REPO / "MUTATION_r09.json")

# (name, file, old, new, gate query) — each `old` must occur in the file;
# the FIRST occurrence is mutated. Chosen to span evidence classes:
# keep-policy, window frames, streaming state, bit-level hashing, and the
# portable-hash sampling pipeline.
MUTATIONS = [
    # Rounding-mode swap (HALF_UP -> HALF_EVEN): the sf0.01 decimal
    # product has 1115 exact scale-2 half-ties, every one of which
    # rounds differently under bround.
    ("rounding-half-even",
     "src/main/scala/graft/queries/MiscPack.scala",
     "round(d, 2).cast(\"string\").as(\"r2\"),",
     "bround(d, 2).cast(\"string\").as(\"r2\"),",
     "decimal_round"),
    ("window-frame-off-by-one",
     "src/main/scala/graft/queries/Windows.scala",
     ".rowsBetween(-4, Window.currentRow)\n    val sx",
     ".rowsBetween(-3, Window.currentRow)\n    val sx",
     "win_rolling_std"),
    ("session-gap-divided",
     "src/main/scala/graft/streaming/StatefulOps.scala",
     "if (n > 0 && tUs - end > gapMillis * 1000) {",
     "if (n > 0 && tUs - end > gapMillis * 100) {",
     "stream_sessionize"),
    ("murmur-fmix-constant-bitflip",
     "src/main/scala/graft/plans/HashVariants.scala",
     "x ^= x >>> 33; x *= 0xff51afd7ed558ccdL",
     "x ^= x >>> 33; x *= 0xff51afd7ed558cccL",
     "hash_variants"),
    ("portable-hash-scale",
     "src/main/scala/graft/operators/Curation.scala",
     ".cast(\"double\") / lit(1152921504606846976.0) // 2^60",
     ".cast(\"double\") / lit(576460752303423488.0) // 2^60",
     "corpus_split"),
    # Round-11: re-prove the two slimmed stream gates (1-in-5 user
    # slice) still trip on their core semantics.
    # Interval-join upper bound off by a minute: every view/click pair
    # landing in the (9, 10] minute band drops from the join output.
    ("interval-join-bound-shrunk",
     "src/main/scala/graft/queries/StreamPack.scala",
     "col(\"c_ts\") <= col(\"v_ts\") + expr(\"INTERVAL 10 MINUTES\"),",
     "col(\"c_ts\") <= col(\"v_ts\") + expr(\"INTERVAL 9 MINUTES\"),",
     "stream_interval_join"),
    # Rekey stage-1 session gap halved: sessions split, shifting both
    # the size-class counts and the day-window re-aggregation.
    ("rekey-session-gap-halved",
     "src/main/scala/graft/queries/StreamPack.scala",
     "session_window(col(\"ts\"), \"2 hours\")",
     "session_window(col(\"ts\"), \"1 hour\")",
     "stream_rekey"),
    # Round-12: the winsorize NULL guard (ADVICE-r11) — dropping the
    # isNotNull wrapper regresses to the least/greatest null-skip bug
    # (NULL fabricated as lo_cut); the gate feed plants NULLs
    # specifically so sum_w / n_null turn red here.
    ("winsorize-null-guard-dropped",
     "src/main/scala/graft/operators/Stats.scala",
     "when(col(valueCol).isNotNull,\n"
     "          least(greatest(col(valueCol), col(\"lo_cut\")), "
     "col(\"hi_cut\"))))",
     "least(greatest(col(valueCol), col(\"lo_cut\")), col(\"hi_cut\")))",
     "agg_winsorize"),
    # Round-12: the adaptive-width threshold rule — an off-by-one in
    # the strict comparison (> -> >=) moves the 2000-boundary slice to
    # 5 bits; the boundary gate's straddling sizes exist to catch
    # exactly this drift.
    ("auto-lsh-bits-boundary-off-by-one",
     "src/main/scala/graft/operators/Similarity.scala",
     "while (b < maxBits && n > (targetBucket << b)) b += 1",
     "while (b < maxBits && n >= (targetBucket << b)) b += 1",
     "embed_auto_granularity"),
    # Round-12 session 2: the week-matrix single-scan rewrite must keep
    # the inner-join contract — dropping the "both years present" guard
    # (n1 > 0 -> n1 >= 0) admits (nation, week) cells that have only
    # next-year rows, which the join-form oracle never emits.
    ("week-matrix-missing-year-admitted",
     "src/main/scala/graft/queries/TpcDs.scala",
     ".filter($\"n1\" > 0 && $\"n2\" > 0)",
     ".filter($\"n1\" >= 0 && $\"n2\" > 0)",
     "ds_week_matrix"),
    # Wrap kernel window off-by-one (>= width -> > width) widens every
    # line cap by one char — the asymmetric-cap contract the gate's
    # word-fold oracle replays turns red on any tight boundary.
    ("wrap-window-off-by-one",
     "src/main/scala/graft/plans/expressions.scala",
     "if (pos - spos >= width && lastSpaceIdx >= 0) {",
     "if (pos - spos > width && lastSpaceIdx >= 0) {",
     "str_wrap_partition"),
    # Row-quantile index base n-1 -> n: q = 1 now targets index n
    # (past the end), so its three rows vanish and most other indices
    # shift — red at ANY corpus size, including stress multiples.
    ("row-quantile-index-base-shifted",
     "src/main/scala/graft/operators/Stats.scala",
     "val a = num * (n - 1)",
     "val a = num * n",
     "agg_rows_quantiles"),
    # PRODUCT-scan frame shrunk by one row: every 4-deep window loses a
    # factor — the UDAF-in-window composition must honor the frame.
    ("cumprod-frame-shrunk",
     "src/main/scala/graft/queries/Windows.scala",
     ".rowsBetween(-3, Window.currentRow)\n    Tables.lineitem",
     ".rowsBetween(-2, Window.currentRow)\n    Tables.lineitem",
     "win_cumprod"),
    # Round-13: the hierarchical descent's probe width forced to 1 —
    # rows whose flat-argmax cell lives outside their single best
    # super-cell get a different cell, so the full-probe-width gate
    # (bit-identical-to-flat contract) turns red. Chosen over the
    # verdict-suggested empty-super-guard drop, which is UNOBSERVABLE
    # at full width by construction (every populated super is probed
    # regardless — the r12 "can the gate express the bug?" lesson).
    ("hier-probe-width-forced-to-one",
     "src/main/scala/graft/operators/Similarity.scala",
     "val nProbes = math.min(probes, populated)",
     "val nProbes = math.min(1, populated)",
     "embed_hier_assign"),
    # Round-14: the lossy-regime recall gate (embed_hier_recall runs
    # semanticDedupPairs at K=4096, superProbes=2) must notice the
    # production path going DEAD — cell assignment degenerating to
    # row-unique cells (the realistic wiring failure: joining the
    # assignment back on the wrong key) kills every candidate pair, so
    # all 20 planted exact-duplicate pairs vanish and the closed-form
    # oracle row turns red. (Probe-width mutations are UNOBSERVABLE by
    # planted-dup recall by construction: identical vectors co-locate
    # under ANY pure vector->cell function — the r12 expressibility
    # lesson; width sensitivity is embed_hier_assign's job.)
    ("hier-assignment-cells-degenerate",
     "src/main/scala/graft/operators/Similarity.scala",
     ".select(col(\"id\"), col(\"cell_id\"))",
     ".select(col(\"id\"), col(\"id\").as(\"cell_id\"))",
     "embed_hier_recall"),
    # Round-18: the exact gram key. Dropping the last full-gram start
    # of every document loses each doc-final 15-gram; the hot-clique
    # corpus ends every document with its sentinel, so the sentinel's
    # last gram disappears from the gate.
    ("gram-last-start-dropped",
     "src/main/scala/graft/operators/SubstringDedup.scala",
     "(0 to t.length - minWidth)",
     "(0 until t.length - minWidth)",
     "doc_hotclique_dups"),
    # The key's high byte zeroed: code units that differ only above bit
    # 7 merge. The gate corpus is BMP-only and mostly ASCII, so the
    # oracle gates cannot see it; the surrogate-pair specs can.
    ("gram-key-high-byte-dropped",
     "src/main/scala/graft/operators/SubstringDedup.scala",
     "(c >> 8).toByte",
     "0",
     "test:graft.DedupSpec:surrogate"),
    # Round-14: the NaN-equality policy itself — silently reverting
    # distinctNanUnequal to Spark's default ALL_EQUAL distinct
    # collapses every per-priority NaN group to one surviving row;
    # both count columns go red.
    ("nan-unequal-policy-flipped",
     "src/main/scala/graft/operators/Dedup.scala",
     "df.filter(hasNan).unionByName(df.filter(!hasNan).dropDuplicates())",
     "df.dropDuplicates()",
     "distinct_nan_unequal"),
    # Round-14: pair-mode global ranking must require presence in BOTH
    # sources — weakening the cross-source predicate to plain
    # duplication admits every single-source duplicated gram into the
    # contamination report.
    ("pair-grams-cross-source-dropped",
     "src/main/scala/graft/operators/SubstringDedup.scala",
     ".filter(col(\"n_src0\") >= 1 && col(\"n_src1\") >= 1)",
     ".filter(col(\"n_occurrences\") >= 2)",
     "doc_hotclique_contamination"),
    # Round-15: relapse of the r14 code-point/UTF-16 pre-filter fix
    # (commit 49939a1) — `length()` counts code points, the pipeline
    # indexes UTF-16 units, so a plain `length >= minWidth` filter
    # silently drops astral-char docs whose UTF-16 length qualifies.
    # The gate corpus is BMP-only BY CONTRACT (DedupSpec "gate corpus
    # is BMP-only" pins it; the DuckDB oracle is code-point-indexed,
    # so an astral gate feed would diverge spuriously) — the detector
    # is the surrogate-pair unit spec, a `test:` gate.
    ("utf16-prefilter-codepoint-relapse",
     "src/main/scala/graft/operators/SubstringDedup.scala",
     ".filter(col(\"__t\").isNotNull && length(col(\"__t\")) * 2 >= minWidth)",
     ".filter(col(\"__t\").isNotNull && length(col(\"__t\")) >= minWidth)",
     "test:graft.DedupSpec:surrogate"),
    # Round-16: the band join, metadata readers, list repr, and the
    # checkpoint-dir caching each get a relapse probe.
    # Bucket fan-out dropped: left rows stop replicating into bucket
    # +/-1, so every cross-bucket band pair vanishes from the gate.
    ("bandjoin-fanout-dropped",
     "src/main/scala/graft/operators/IntervalJoin.scala",
     "explode(array(lb - 1, lb, lb + 1)))",
     "explode(array(lb)))",
     "join_band_bucketed"),
    # Flat i+1 stats indexing relapse: columns after a nested column
    # read the wrong statistics entry (r15 ADVICE bug re-planted).
    ("orc-stats-index-relapse",
     "src/main/scala/graft/sources/Layout.scala",
     "val cs = stats(child.getId.toInt)",
     "val cs = stats(schema.getChildren.asScala.indexOf(child) + 1)",
     "test:graft.IoSpec:aligned"),
    # Outer na_rep dropped: a NULL inner list silently vanishes from
    # the nested repr instead of rendering as the null token.
    ("listrepr-null-inner-dropped",
     "src/main/scala/graft/functions/TextFunctions.scala",
     "listRepr(inner, nullToken)), \",\",\n        nullToken),",
     "listRepr(inner, nullToken)), \",\"),",
     "test:graft.TextFunctionsSpec:na_rep"),
    # Per-cut setCheckpointDir relapse: every loop iteration mkdirs a
    # fresh UUID dir again (r15 ADVICE medium re-planted).
    ("ckptdir-churn-relapse",
     "src/main/scala/graft/operators/Checkpoints.scala",
     "if (lastSetDir.put(sc, dir) != dir) sc.setCheckpointDir(dir)",
     "sc.setCheckpointDir(dir)",
     "test:graft.CheckpointsSpec:knob"),
    # Recursion dropped: hive-partitioned layouts return zero
    # metadata rows again (the pre-r16 behavior re-planted).
    ("metadata-recursion-dropped",
     "src/main/scala/graft/sources/Layout.scala",
     "if (st.isDirectory) walk(st.getPath)",
     "if (st.isDirectory) Nil",
     "test:graft.IoSpec:recurse"),
    # Round-16 session 2: the span surfaces.
    # Span end shrunk by one: every emitted span under-covers its last
    # gram position -> doc_duplicated_spans red on span_end/span_len.
    ("span-end-shrunk",
     "src/main/scala/graft/operators/SubstringDedup.scala",
     '.agg(min(col("pos")).as("span_start"),\n        (max(col("pos")) + minWidth).as("span_end"))',
     '.agg(min(col("pos")).as("span_start"),\n        (max(col("pos")) + minWidth - 1).as("span_end"))',
     "doc_duplicated_spans"),
    # Contamination keep-threshold raised: bridges whose gram occurs
    # exactly once in eval stop being cut -> spans shrink or vanish.
    ("contam-keep-threshold-raised",
     "src/main/scala/graft/operators/SubstringDedup.scala",
     'col("__s") === 0 && col("__n1") >= 1)',
     'col("__s") === 0 && col("__n1") >= 2)',
     "doc_contaminated_spans"),
    # The replay rig's checkpoint I/O back on Hadoop's LocalFs: ~440
    # chmod / readlink children per replay again.
    ("rig-nio-fs-dropped",
     "src/main/scala/graft/streaming/Replay.scala",
     ',\n      "fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)',
     ")",
     "test:graft.ReplaySpec:spawns"),
    # The merge skips the next left element after a match, so shared
    # tokens go uncounted. (Advancing only i on a match is an equivalent
    # mutant on duplicate-free sets: the next compare advances j.)
    ("sorted-jaccard-merge-skips",
     "src/main/scala/graft/plans/SortedJaccard.scala",
     "if (c == 0) { inter += 1; i += 1; j += 1 }",
     "if (c == 0) { inter += 1; i += 2; j += 1 }",
     "doc_minhash_pairs"),
    ("sorted-jaccard-merge-skips-property",
     "src/main/scala/graft/plans/SortedJaccard.scala",
     "if (c == 0) { inter += 1; i += 1; j += 1 }",
     "if (c == 0) { inter += 1; i += 2; j += 1 }",
     "test:graft.PropertySpec:SortedJaccard"),
    # The graft-avro writer shifts every LONG value by one, so the
    # c_custkey that io_avro_roundtrip reads back (min_key) is off; the
    # DSv2 gate prunes that column away, so only the moved gate sees it.
    ("avro-long-write-shifted",
     "src/main/scala/graft/sources/AvroDataSource.scala",
     "case LongType => row.getLong(i)",
     "case LongType => row.getLong(i) + 1",
     "io_avro_roundtrip"),
    # VocabIds is the only token-id path: shifting every found token's
    # id by one moves every non-default id doc_token_ids renders.
    ("vocab-id-shifted",
     "src/main/scala/graft/plans/VocabIds.scala",
     "if (id == null) defaultId else id.intValue()",
     "if (id == null) defaultId else id.intValue() + 1",
     "doc_token_ids"),
    # SmallSort with Generate on its operator allowlist: a sort over an
    # explode of a small aggregate loses its range exchange, although
    # Spark's size estimate does not bound the explode's output.
    ("small-sort-ignores-generate",
     "src/main/scala/graft/plans/SmallSort.scala",
     "_: ProjectExec | _: FilterExec |",
     "_: ProjectExec | _: FilterExec |"
     " _: org.apache.spark.sql.execution.GenerateExec |",
     "test:graft.SmallInputSpec:explode"),
    # The same for the operator behind Dataset.flatMap.
    ("small-sort-ignores-flatmap",
     "src/main/scala/graft/plans/SmallSort.scala",
     "_: ProjectExec | _: FilterExec |",
     "_: ProjectExec | _: FilterExec |"
     " _: org.apache.spark.sql.execution.MapPartitionsExec |",
     "test:graft.SmallInputSpec:flatMap"),
    # Spread's size gate inverted: small inputs are spread and large
    # ones are not.
    ("spread-size-gate-inverted",
     "src/main/scala/graft/operators/Spread.scala",
     "stats.sizeInBytes <\n        BigInt(minPartition) * target) return df",
     "stats.sizeInBytes >=\n        BigInt(minPartition) * target) return df",
     "test:graft.SmallInputSpec:Spread"),
]


def run(cmd, env=None, timeout=900):
    e = dict(**__import__("os").environ)
    if env:
        e.update(env)
    return subprocess.run(cmd, cwd=REPO, env=e, capture_output=True,
                          text=True, timeout=timeout)


def compare_red(query):
    """Run Verify + compare for one query; return True if the gate row
    is RED (mutation caught) — a Verify crash also counts as caught
    (the gate records errors as failures).

    A `test:<Suite>[:<substring>]` gate instead runs the named ScalaTest
    suite (optionally filtered with -z) and is red on any test failure —
    for bugs the BMP-only oracle corpus cannot express (e.g. UTF-16
    surrogate handling)."""
    if query.startswith("test:"):
        parts = query.split(":", 2)
        cmd = f"testOnly {parts[1]}"
        if len(parts) == 3:
            cmd += f' -- -z "{parts[2]}"'
        r = run(["sbt", "-batch", cmd])
        red = r.returncode != 0 or "*** FAILED ***" in r.stdout
        line = next((l for l in r.stdout.splitlines()
                     if "Tests:" in l or "FAILED" in l), "?")
        return red, line.strip()[:200]
    out_dir = "/tmp/mutcheck"
    r = run(["sbt", "-batch", f"runMain graft.Verify {SF} {out_dir}"],
            env={"SPARK_GRAFT_ONLY": query, "SPARK_GRAFT_CPUS": "8"})
    if "[verify] 1 dumped, 0 failed" not in r.stdout:
        return True, "verify-crashed"
    c = run(["python3", "tools/compare_local.py", out_dir, SF, query])
    red = c.returncode != 0
    return red, (c.stdout.strip().splitlines() or ["?"])[0][:200]


def main():
    # only src/ must be clean (mutations are applied + reverted there);
    # tools/docs churn in the same checkout is harmless
    dirty = run(["git", "status", "--porcelain", "src"]).stdout.strip()
    if dirty:
        print("refusing to run with uncommitted src/ changes:\n" + dirty)
        return 2
    # GRAFT_MUTATIONS=<regex>: run only matching mutation names and MERGE
    # their records into an existing OUT artifact (re-prove one gate's
    # sensitivity without paying the full 12-compile sweep).
    mfilter = __import__("os").environ.get("GRAFT_MUTATIONS")
    selected = MUTATIONS
    if mfilter:
        import re
        pat = re.compile(mfilter)
        selected = [m for m in MUTATIONS if pat.fullmatch(m[0])]
        assert selected, f"no mutation matches {mfilter!r}"
    results = []
    try:
        for name, relpath, old, new, query in selected:
            path = REPO / relpath
            src = path.read_text()
            assert old in src, f"{name}: pattern not found in {relpath}"
            path.write_text(src.replace(old, new, 1))
            comp = run(["sbt", "-batch", "compile"])
            if "done compiling" not in comp.stdout and comp.returncode != 0:
                caught, detail = True, "does-not-compile"
            else:
                caught, detail = compare_red(query)
            run(["git", "checkout", "--", relpath])
            results.append({"mutation": name, "file": relpath,
                            "query": query, "caught": caught,
                            "detail": detail})
            print(f"{'CAUGHT' if caught else 'MISSED'} {name} -> {query}: "
                  f"{detail}")
    finally:
        run(["git", "checkout", "--", "src"])
        # leave the tree compiled clean for whoever runs next
        run(["sbt", "-batch", "compile"])
    if mfilter and Path(OUT).exists():
        prior = json.loads(Path(OUT).read_text())["mutations"]
        fresh = {r["mutation"] for r in results}
        results = [r for r in prior if r["mutation"] not in fresh] + results
    Path(OUT).write_text(json.dumps(
        {"sf": SF, "mutations": results,
         "all_caught": all(r["caught"] for r in results)}, indent=2))
    print(f"== {sum(r['caught'] for r in results)}/{len(results)} caught "
          f"-> {OUT}")
    return 0 if all(r["caught"] for r in results) else 1


if __name__ == "__main__":
    sys.exit(main())
