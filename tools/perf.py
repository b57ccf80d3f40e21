"""Per-key performance tool: a noop sweep, a same-window A/B, plan counts.

Every mode builds each registered key (``sparkflow.QUERIES``) fresh from
``--sf`` on the tuned session. With no keys, ``sweep`` and ``plan`` run
the whole registry. The per-layer split of a query's wall time (Catalyst
phases, event-log stage metrics, fetch) is ``coldbench/run.py --trace 1``,
not this tool.

  python tools/perf.py sweep [--sf DIR] [--n 3] [--out FILE] [key ...]

    Per key: ``t_build`` is the QUERIES call (plan construction; keys
    that do eager work at build time, such as streaming availableNow
    twins, staged writers and localCheckpoint users, pay their execution
    here), ``t_first`` the first noop write (cold caches, JIT),
    ``t_noop`` the median of ``--n`` further noop writes, and
    ``t_total_cold`` = t_build + t_first. The noop sink times the
    computation, not a result transfer. Jobs carry the description
    ``perf:<key>``. One JSON line per key on stdout (also appended to
    ``--out``), the slowest keys on stderr; exits 1 if any key errors.

  python tools/perf.py ab [--sf DIR] [--n 3] key [key ...]

    Committed package against working tree in one session: ``git
    archive HEAD sparkflow`` is unpacked as ``sparkflow_old`` under
    /tmp, then per key one untimed warm-up each and ``--n`` OLD/NEW
    pairs, interleaved. Each run builds a fresh DataFrame (fresh shuffle
    ids, so a full execution) after ``clearCache()``. Timings taken in
    different sessions drift too far to compare; only this interleave
    counts.

  python tools/perf.py plan [--sf DIR] [--out FILE] [--dump DIR]
                           [--explain FILE] [key ...]

    Counts over each key's ``explain("formatted")``: exchanges, scans,
    sorts, windows, generates, Python nodes, join kinds, cartesian and
    single-partition exchanges, windows without partition keys. One JSON
    line per key on stdout (also appended to ``--out``); ``--dump DIR``
    also writes each plan to ``DIR/<key>.txt``. ``--explain FILE``
    writes the plans as one markdown file, each cut to its first
    EXPLAIN_LINES lines; with no keys it covers the HEADLINE keys, not
    the whole registry. ``EXPLAIN.md`` is generated this way, on the
    default corpus:

      python tools/perf.py plan --explain EXPLAIN.md

``--sf`` defaults to $SPARK_GRAFT_SF_DIR, else the sf0.01 corpus the
board runs on.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import sparkflow  # noqa: E402
from sparkflow.plans.explain import formatted_plan  # noqa: E402
from tools.reseed import SRC as _BOARD_SF  # noqa: E402

OLD_ROOT = "/tmp/sparkflow_ab_old"

# the keys whose plans EXPLAIN.md shows (plan --explain with no keys)
HEADLINE = [
    "agg_hash_group",
    "agg_distinct",
    "fn_json",
    "limit_topk",
    "join_multiway_star",
    "win_topk_per_group",
    "win_rank_dense_ntile",
    "join_asof",
    "llm_dedup_near",
    "llm_knn_cosine",
    "stream_cep_negation",
    "join_range_binned",
    "llm_decontaminate",
    "sql_merge_upsert",
    "llm_semdedup",
    "events_anomaly_zscore",
    "join_bloom_filter",
    "join_partition_pruned",
    "sort_zorder_layout",
    "graph_triangle_count",
    "llm_embedding_pca",
    "llm_hard_negatives",
    "sql_correlated_exists",
    "sql_exists_chain",
    "join_asof_nearest",
    "llm_curriculum_stages",
    "maintenance_incremental_rollup",
    "graph_label_propagation",
    "llm_winnowing_overlap",
    "llm_winnowing_overlap_aligned",
    "win_ewma_segmented",
    "win_rolling_median_segmented",
    "llm_dedup_containment",
    "join_multiway_star_bucketed",
    "join_multiway_star_denorm",
    "maintenance_json_materialize",
    "llm_bpe_train",
    # r9: the avro round-trip source
    "scan_avro",
    "llm_dedup_near_prefix",
    "maintenance_table_versions",
    "scan_avro_splittable",
    "scan_time_travel_pruned",
    "maintenance_vacuum",
    # r9 continuation: protobuf source, CDC apply + schema evolution on
    # the versioned table, and the quantile member of the sketch family
    "scan_protobuf",
    "maintenance_table_cdc_apply",
    "maintenance_table_add_column",
    "agg_quantile_sketch",
    "llm_dedup_exact_substr",
    "scan_zorder_pruned",
    # r11: the CEP combinator keys (one sort + Window chain, join-free)
    # and the IVM rollup passes behind the engine-floor repoints
    "stream_cep_compile",
    "stream_cep_optional",
    "maintenance_rollup_pricing",
    "maintenance_rollup_distinct",
    "maintenance_rollup_tumbling",
    # r12: mid-pattern negation + oneOrMore counts (still one sort +
    # Window chain), the flagship's join-aggregate IVM view, and the
    # exercised ingest-delta merges (delta-only scans, plan-pinned)
    "stream_cep_midneg",
    "stream_cep_one_or_more",
    "stream_cep_times_range",
    "stream_cep_midneg_multi",
    "stream_cep_skip_past",
    # r13: strict-contiguity optional — 2^k variant chains, still one
    # exchange (the enumeration adds window columns, not shuffles) —
    # and the completed AfterMatchSkipStrategy surface (same single
    # exchange + match-frame fold as skip_past)
    "stream_cep_next_optional",
    "stream_cep_skip_to_next",
    "stream_cep_skip_to_first",
    "stream_cep_one_or_more_next",
    "stream_cep_within_gap",
    "stream_cep_both_strict_times",
    "stream_cep_both_strict_one_or_more",
    "stream_cep_skip_gap",
    "stream_cep_midneg_gap",
    "stream_cep_midneg_gap_skip",
    "stream_cep_midneg_gap_neg",
    "stream_cep_opt_midneg_gap",
    "stream_cep_or_split_neg",
    "stream_cep_next_optional_neg",
    "stream_cep_until",
    "stream_cep_until_split",
    "stream_cep_until_optional",
    "stream_cep_not_next",
    "stream_cep_not_next_skip",
    "stream_cep_not_next_gap",
    "stream_cep_followed_by_any",
    "maintenance_knn_quantize",
    "maintenance_knn_ingest",
    "maintenance_rollup_q3",
    "maintenance_rollup_ingest_q3",
    "maintenance_rollup_q5",
    "maintenance_rollup_ingest_pricing",
    "maintenance_rollup_ingest_distinct",
    "maintenance_rollup_ingest_tumbling",
    "maintenance_rollup_ingest_q5",
]

# deep iterative plans (PCA, triangle count) print thousands of lines;
# the operator tree at the top carries the evidence
EXPLAIN_LINES = 150
EXPLAIN_HEADER = (
    "# EXPLAIN — formatted physical plans ({sf}, AQE initial plans)\n\n"
    "Generated by `python tools/perf.py plan --explain EXPLAIN.md`.\n"
    "What to look for: `PushedFilters` (predicate "
    "pushdown), `ReadSchema` (column\npruning), `BroadcastHashJoin` vs "
    "`SortMergeJoin` (dim joins must\nbroadcast), "
    "`TakeOrderedAndProject` (top-k), `HashAggregate`\npairs "
    "(partial+final).\n"
)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def sweep(spark, sf: str, keys: list, n: int = 3):
    """Yield one timing record per key (fields in the module docstring);
    a key that raises yields its ``error`` instead, and the sweep goes on."""
    sc = spark.sparkContext
    for name in keys:
        sc.setJobDescription(f"perf:{name}")
        rec: dict = {"key": name, "sf_dir": sf}
        try:
            t0 = time.perf_counter()
            df = sparkflow.QUERIES[name](spark, sf)
            rec["t_build"] = round(time.perf_counter() - t0, 4)
            t0 = time.perf_counter()
            noop(df)
            rec["t_first"] = round(time.perf_counter() - t0, 4)
            ts = []
            for _ in range(n):
                t0 = time.perf_counter()
                noop(df)
                ts.append(time.perf_counter() - t0)
            rec["t_noop"] = round(statistics.median(ts), 4)
            rec["t_total_cold"] = round(rec["t_build"] + rec["t_first"], 4)
        except Exception as e:  # keep sweeping; a broken key is a finding
            rec["error"] = f"{type(e).__name__}: {e}"[:300]
        finally:
            sc.setJobDescription(None)
        yield rec


def plan_counts(p: str) -> dict:
    """Smell counts over one formatted plan."""
    return dict(
        exchanges=p.count("Exchange ("),
        reused=p.count("ReusedExchange"),
        scans=p.count("Scan parquet"),
        sorts=len(re.findall(r"\bSort \(", p)),
        windows=len(re.findall(r"\bWindow \(", p)),
        generates=p.count("Generate ("),
        py_batch=p.count("BatchEvalPython"),
        py_arrow=p.count("ArrowEvalPython"),
        py_map=p.count("MapInPandas") + p.count("MapInArrow")
        + p.count("FlatMapGroupsInPandas") + p.count("PythonMapInArrow"),
        udtf=p.count("PythonUDTF"),
        cartesian=p.count("CartesianProduct"),
        bnlj=p.count("BroadcastNestedLoopJoin"),
        single_part=p.count("Exchange SinglePartition"),
        smj=p.count("SortMergeJoin"),
        shj=p.count("ShuffledHashJoin"),
        bhj=p.count("BroadcastHashJoin"),
        global_window=len(
            re.findall(r"windowspecdefinition\((?:[a-z_]+#\d+[L]?, )?"
                       r"(?:[a-z_]+#\d+[L]? )?(?:ASC|DESC)", p)
        ),
        # a window whose first spec argument is an ordering, not a
        # partition column list
        unpart_window=len(
            re.findall(r"windowspecdefinition\([^,)]+ (?:ASC|DESC)", p)
        ),
    )


def plan(spark, sf: str, keys: list, dump: "str | None" = None,
         explain: "str | None" = None):
    """Yield one plan-count record per key; with ``dump`` also write
    each key's formatted plan to ``dump/<key>.txt``, with ``explain``
    all of them, truncated, to one markdown file."""
    if dump:
        os.makedirs(dump, exist_ok=True)
    sections = [EXPLAIN_HEADER.format(sf=os.path.basename(sf))]
    for name in keys:
        rec: dict = {"key": name}
        try:
            p = formatted_plan(sparkflow.QUERIES[name](spark, sf))
            rec.update(plan_counts(p))
            if dump:
                with open(os.path.join(dump, f"{name}.txt"), "w") as fh:
                    fh.write(f"# {name} @ {sf}\n{p}")
        except Exception as e:
            rec["error"] = f"{type(e).__name__}: {e}"[:200]
            p = f"error: {rec['error']}"
        lines = p.strip().splitlines()
        if len(lines) > EXPLAIN_LINES:
            lines = lines[:EXPLAIN_LINES] + [
                f"... [{len(lines) - EXPLAIN_LINES} more lines truncated]"]
        sections.append(f"\n## {name}\n\n```\n" + "\n".join(lines)
                        + "\n```\n")
        yield rec
    if explain:
        with open(explain, "w") as fh:
            fh.write("".join(sections))


def materialize_old() -> None:
    """Unpack the committed ``sparkflow`` as ``sparkflow_old`` under
    OLD_ROOT (its relative imports make the rename safe)."""
    shutil.rmtree(OLD_ROOT, ignore_errors=True)
    os.makedirs(OLD_ROOT)
    subprocess.run(
        f"git -C {REPO} archive HEAD sparkflow | tar -x -C {OLD_ROOT}",
        shell=True,
        check=True,
    )
    os.rename(f"{OLD_ROOT}/sparkflow", f"{OLD_ROOT}/sparkflow_old")


def ab(spark, sf: str, keys: list, n: int = 3) -> None:
    """Print one OLD/NEW median line per key (see module docstring)."""
    import sparkflow_old

    def once(fn) -> float:
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        noop(fn(spark, sf))
        return time.perf_counter() - t0

    for key in keys:
        old_fn = sparkflow_old.QUERIES[key]
        new_fn = sparkflow.QUERIES[key]
        once(old_fn)  # untimed warm-up each: JIT, catalog, session memos
        once(new_fn)
        olds, news = [], []
        for _ in range(n):
            news.append(once(new_fn))
            olds.append(once(old_fn))
        om, nm = statistics.median(olds), statistics.median(news)
        print(
            f"{key:34s} old={om:8.3f}  new={nm:8.3f}  ratio={nm / om:5.2f}"
            f"   (old runs {['%.2f' % t for t in olds]},"
            f" new runs {['%.2f' % t for t in news]})",
            flush=True,
        )


def _emit(records, out: "str | None") -> list:
    """Print each record as a JSON line (and append it to ``out``)."""
    rows = []
    for rec in records:
        line = json.dumps(rec)
        print(line, flush=True)
        if out:
            with open(out, "a") as fh:
                fh.write(line + "\n")
        rows.append(rec)
    return rows


def main() -> None:
    common = argparse.ArgumentParser(add_help=False)
    common.add_argument(
        "--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", _BOARD_SF)
    )
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    modes = ap.add_subparsers(dest="mode", required=True)
    p = modes.add_parser("sweep", parents=[common])
    p.add_argument("--n", type=int, default=3, help="warm noop iterations")
    p.add_argument("--out", default=None, help="also append JSONL here")
    p.add_argument("keys", nargs="*")
    p = modes.add_parser("ab", parents=[common])
    p.add_argument("--n", type=int, default=3, help="timed pairs per key")
    p.add_argument("keys", nargs="+")
    p = modes.add_parser("plan", parents=[common])
    p.add_argument("--out", default=None, help="also append JSONL here")
    p.add_argument("--dump", default=None, help="write DIR/<key>.txt plans")
    p.add_argument("--explain", default=None,
                   help="write the truncated plans as markdown to FILE")
    p.add_argument("keys", nargs="*")
    args = ap.parse_args()

    if args.mode == "ab":
        materialize_old()
        sys.path.insert(0, OLD_ROOT)
    from sparkflow.session import get_spark

    keys = args.keys or (HEADLINE if getattr(args, "explain", None)
                         else sorted(sparkflow.QUERIES))
    spark = get_spark(f"perf-{args.mode}")
    spark.sparkContext.setLogLevel("ERROR")
    if args.mode == "plan":
        _emit(plan(spark, args.sf, keys, args.dump, args.explain), args.out)
        spark.stop()
        return
    noop(spark.range(10))  # the session floor, so key #1 skips JVM start
    if args.mode == "ab":
        ab(spark, args.sf, keys, args.n)
        spark.stop()
        return
    rows = _emit(sweep(spark, args.sf, keys, args.n), args.out)
    ok = sorted((r for r in rows if "t_noop" in r),
                key=lambda r: r["t_total_cold"], reverse=True)
    print("\n== slowest by cold total (build + first noop) ==", file=sys.stderr)
    for r in ok[:40]:
        print(f"{r['key']:34s} build={r['t_build']:7.3f} "
              f"first={r['t_first']:7.3f} warm={r['t_noop']:7.3f}",
              file=sys.stderr)
    errs = [r for r in rows if "error" in r]
    for r in errs:
        print(f"ERROR {r['key']}: {r['error']}", file=sys.stderr)
    spark.stop()
    sys.exit(1 if errs else 0)

if __name__ == "__main__":
    main()
