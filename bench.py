"""Benchmark harness: run every registered query at $SPARK_GRAFT_SF_DIR.

Prints TWO JSON lines; the LAST stdout line is a compact (~400 byte)
self-contained summary — totals, query/error counts, calibration probe
seconds, and a pointer to the detail file; its per-query map is
INTENTIONALLY empty ("queries": {}) so the line stays registry-size-
independent and can never outgrow the driver's ~2,000-char tail-capture
window (rounds 3/5/7 each lost or truncated their record that way).
The lines before it carry the short-key per-query timings in bounded
chunks (<= ~1.5 KB per line, part i/n — one single line outgrew the
window at 268 queries and blanked PERF per_query for two rounds); the
full-name map goes to a detail JSON file next to this script.
Human-readable lines → stderr.

Two runners share this script, and round 8's driver run silently
overwrote the builder's committed per-query record — so the detail file
is now ROLE-SPECIFIC: driver (default) runs write BENCH_DRIVER_LATEST.json;
the builder's committed canonical record is written only when
SPARK_GRAFT_BENCH_ROLE=builder (→ BENCH_LOCAL.json). Each record also
carries a host-speed CALIBRATION probe — one fixed reference query
(q01) timed before and after the sweep — so a slow host window (r8's
uniform 1.3x inflation) is measured inside the record, not inferred by
comparing across files.

Each query is executed with a `noop`-format write so the full distributed
plan runs (scan → shuffle → agg) without materializing results on the
driver — the honest measure of engine throughput, and the same action shape
a 100 TB job would have (write to a sink, never collect).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))

# Which runner is invoking us decides where the per-query detail map
# lands: the driver's per-round regeneration must never clobber the
# builder's committed canonical record (it did in round 8 — two records,
# one filename, and the worktree copy silently diverged 297.6s → 393.3s).
ROLE = os.environ.get("SPARK_GRAFT_BENCH_ROLE", "driver")
DETAIL_FILE = "BENCH_LOCAL.json" if ROLE == "builder" else "BENCH_DRIVER_LATEST.json"

# Host-speed calibration probe: one fixed, cheap, never-changing query
# timed immediately before and after the sweep. Ratios between records
# are only meaningful divided by their calibration seconds.
CALIBRATION_QUERY = "q01_clean_filters"

# Outlier re-run rule (round-10 verdict #3): a single inflated reading
# becomes the round's number unless it is immediately challenged —
# round 10's driver record showed six queries at 2-6x their builder-run
# times with UNCHANGED code (q157 22.8s vs 8.9s same round). Any query
# reading more than OUTLIER_FACTOR x its previous committed record gets
# one extra in-run measurement; both readings are recorded (reruns map
# in the detail file) and the lower is used.
OUTLIER_FACTOR = 2.0


def load_prev_timings() -> dict[str, float]:
    """Previous committed canonical per-query record (builder role's
    BENCH_LOCAL.json) — the reference the outlier rule compares against.
    Missing/unreadable → empty (no re-runs)."""
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"
    )
    try:
        with open(path) as f:
            q = json.load(f).get("queries", {})
        return {k: v for k, v in q.items() if isinstance(v, (int, float))}
    except Exception:  # noqa: BLE001 — absent/corrupt record just disables the rule
        return {}


def run_queries(
    spark, registry: dict, sf_dir: str = SF_DIR, repeats: int = 2,
    prev: dict[str, float] | None = None,
    reruns: dict[str, list[float]] | None = None,
) -> tuple[dict[str, float], dict[str, str]]:
    """Time every query (best-of-`repeats` noop-sink runs) with per-query
    fault isolation: one throwing query must not abort the loop — round 6
    lost its ENTIRE official record when q214 overflowed int64 mid-run
    (BENCH_r06.json rc:1 parsed:null). A 235-query harness degrades; it
    never dies: failures are recorded as {"err": ...} rows and the run
    continues, so the other 234 timings always reach the record."""

    # Best-of-N per query: the first run of any distinct plan pays one-off
    # whole-stage-codegen (janino) compilation, ~3-4s of JVM warmup noise
    # that has nothing to do with engine throughput at scale.
    def cleanup() -> None:
        # Iterative queries (connected components, curation checkpoints)
        # leave localCheckpoint/persist RDDs behind that no later query
        # uses; letting them pile up degrades every subsequent measurement
        # (measured ~7% on the full run). A real deployment runs one job
        # per application, so between-query cleanup — OUTSIDE the timed
        # window — is the honest steady-state model.
        spark.catalog.clearCache()
        for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist()

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name, q in sorted(registry.items()):
        best = float("inf")
        try:
            for _ in range(repeats):
                t0 = time.time()
                q.spark_fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                best = min(best, time.time() - t0)
                cleanup()
        except Exception as e:  # noqa: BLE001
            first = str(e).strip().splitlines()[0][:200] if str(e).strip() else repr(e)[:200]
            errors[name] = first
            cleanup()
            print(f"{name} ERROR: {first}", file=sys.stderr)
            continue
        ref = (prev or {}).get(name)
        if ref and best > OUTLIER_FACTOR * ref:
            # outlier vs the previous committed record: challenge it once,
            # keep both readings, use the lower. The challenge run lives
            # inside its own try/except: a throwing third execution
            # (plausible for exactly the resource-stressed queries that
            # read as outliers) must neither abort the sweep nor discard
            # the already-measured `best` — same fault-isolation contract
            # as the main loop.
            try:
                t0 = time.time()
                q.spark_fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                again = time.time() - t0
            except Exception as e:  # noqa: BLE001
                again = float("inf")
                print(
                    f"{name} OUTLIER re-run FAILED ({str(e).strip().splitlines()[0][:120]}) "
                    f"— keeping measured {best:.3f}s",
                    file=sys.stderr,
                )
            cleanup()
            if reruns is not None:
                reruns[name] = [
                    round(best, 3),
                    round(again, 3) if again != float("inf") else None,
                ]
            if again != float("inf"):
                print(
                    f"{name} OUTLIER {best:.3f}s > {OUTLIER_FACTOR}x prev "
                    f"{ref}s — re-run {again:.3f}s",
                    file=sys.stderr,
                )
            best = min(best, again)
        timings[name] = round(best, 3)
        print(f"{name} {timings[name]}s", file=sys.stderr)
    return timings, errors


def main() -> None:
    from retail_sales_etl_pipeline_spark.plans.registry import load_all
    from retail_sales_etl_pipeline_spark.session import get_spark

    spark = get_spark("bench", master=f"local[{CPUS}]", shuffle_partitions=int(CPUS))
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()

    # Warm the JVM/codegen paths once so per-query numbers measure the
    # engine, not first-call class loading.
    next(iter(registry.values())).spark_fn(spark, SF_DIR).write.format("noop").mode(
        "overwrite"
    ).save()

    def calibrate() -> float:
        q = registry[CALIBRATION_QUERY]
        t0 = time.time()
        q.spark_fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 3)

    cal_start = calibrate()

    # Two tag classes are excluded from the benched set — the total
    # measures the engine's RECOMMENDED plans:
    #  * 'slow-twin': deliberate anti-pattern demos kept only to pin
    #    hash-identity against their scalable twins (e.g. q154, the
    #    per-group applyInPandas form of q55/q83).
    #  * 'exact-judge': exact-recall reference forms whose cost is the
    #    documented price of exactness (q205, whose quadratic candidate
    #    core no recall-preserving filter removes — measured r8/r9);
    #    their capped default-path twins ARE benched (q259), and the
    #    judges stay oracle-checked by the correctness gate.
    for tag in ("slow-twin", "exact-judge"):
        for n in sorted(n for n, q in registry.items() if tag in q.tags):
            print(f"skip ({tag}, not a default-path plan): {n}", file=sys.stderr)
            del registry[n]

    reruns: dict[str, list[float]] = {}
    timings, errors = run_queries(
        spark, registry, prev=load_prev_timings(), reruns=reruns
    )
    cal_end = calibrate()

    m = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(m.group(1).rstrip(".")) if m else None
    total = round(sum(timings.values()), 3)
    full = {
        "metric": "registry_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "errors": errors,
        "reruns": reruns,
        "sf": sf,
        "role": ROLE,
        "calibration": {
            "query": CALIBRATION_QUERY,
            "start_s": cal_start,
            "end_s": cal_end,
        },
    }
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), DETAIL_FILE)
    with open(detail_path, "w") as f:
        json.dump(full, f, indent=1)
        f.write("\n")
    # Short keys (q01, q02, ...) halve the per-entry cost of the per-query
    # map on stdout; full names are in the detail file.
    short = {name.split("_", 1)[0]: sec for name, sec in timings.items()}
    assert len(short) == len(timings), "short query keys collided"
    # Round-13 measurement-visibility fix (round-12 verdict item 2): the
    # single short-key line outgrew the driver's ~2,000-char tail-capture
    # window at 268 queries (PERF_r11/r12 per_query came up EMPTY — the
    # line's head was clipped), so the map is now emitted as SELF-
    # DESCRIBING CHUNK LINES, each bounded well under the window. The
    # chunk metric name is deliberately NOT the headline metric and the
    # chunks carry no "value"/"queries"-of-the-total shape, so a consumer
    # that parses "the last line that looks like the record" can never
    # mistake a partial map for a complete one; a full-stdout consumer
    # reassembles the map from part=i/parts=n. Timing methodology is
    # untouched — this changes only how already-measured numbers print.
    chunks = per_query_chunk_lines(short)
    for line in chunks:
        print(line)
    # The LAST stdout line stays a ~300-byte self-contained summary with
    # the per-query map INTENTIONALLY absent ("queries": {}) — totals +
    # error count only, never clipped however large the registry grows
    # (rounds 3/5/7 each lost or truncated their record the other way).
    # The complete per-query map is in the role-specific detail file
    # (written above, same run) and in the chunk lines just printed.
    print(
        final_summary_line(
            total, len(timings), len(errors), sf, cal_start, cal_end,
            parts=len(chunks),
        )
    )


# Per-chunk byte budget for the stdout per-query map. The driver's
# tail-capture window is ~2,000 chars; the final summary line is <400
# bytes, so a <=1,500-byte chunk guarantees the captured tail always
# contains the summary PLUS at least one complete, parseable chunk —
# and every chunk is complete on some line of full stdout.
PER_QUERY_CHUNK_BYTES = 1_500


def per_query_chunk_lines(short: dict[str, float]) -> list[str]:
    """The per-query map as chunked JSON lines (sorted keys, each line
    <= PER_QUERY_CHUNK_BYTES). Metric name differs from the headline
    record's and there is no "value" field, so a tail parser can never
    mistake one chunk for the whole record; part/parts let a
    full-stdout consumer verify it reassembled everything."""
    budget = PER_QUERY_CHUNK_BYTES - 120  # minus the envelope fields
    chunks: list[dict[str, float]] = [{}]
    size = 0
    for k in sorted(short):
        entry = len(json.dumps({k: short[k]})) + 1
        if chunks[-1] and size + entry > budget:
            chunks.append({})
            size = 0
        chunks[-1][k] = short[k]
        size += entry
    lines = []
    for i, c in enumerate(chunks, 1):
        lines.append(
            json.dumps(
                {
                    "metric": "registry_queries_per_query_part",
                    "part": i,
                    "parts": len(chunks),
                    "n_in_part": len(c),
                    "queries": c,
                    "detail": DETAIL_FILE,
                },
                separators=(",", ":"),
            )
        )
    return lines


def final_summary_line(
    total: float,
    n_queries: int,
    n_errors: int,
    sf: float | None,
    cal_start: float | None = None,
    cal_end: float | None = None,
    parts: int | None = None,
) -> str:
    """The LAST stdout line: registry-size-independent by construction
    (tests pin its length under 400 bytes — the failure mode it exists
    to prevent is the summary outgrowing the driver's capture window).
    Carries the in-run calibration seconds so cross-record comparisons
    can normalize away host-window speed, and the chunk count of the
    per-query part lines printed just above it."""
    return json.dumps(
        {
            "metric": "registry_queries_total_wall",
            "value": total,
            "unit": "sec",
            "queries": {},
            "n_queries": n_queries,
            "errors": n_errors,
            "sf": sf,
            "cal_s": [cal_start, cal_end],
            "per_query_parts": parts,
            "detail": DETAIL_FILE,
        },
        separators=(",", ":"),
    )


if __name__ == "__main__":
    main()
