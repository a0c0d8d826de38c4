"""Empirical scale-out measurement: sf0.1g vs sf1.0g (10x data).

Runs a query set at two generator scale factors (scripts/
gen_scale_data.py — same generator both sides, so the ratio reflects
engine scaling, not distribution drift) and reports the measured
scaling exponent per query:

    exponent = log(T_big / T_small) / log(data_ratio)

exponent ~1.0 = linear; <1.0 = sub-linear (fixed overheads amortize);
>1.0 bends super-linear — the thing a 100 TB deployment cannot
tolerate. Shuffle log factors and local[32]'s fixed 32-way
parallelism put honest linear pipelines slightly above 1.0 at this
size, so the audit threshold is 1.25 (and anything above gets read
closely rather than auto-failed: at 6M rows a 2-3 s query still
carries constant-ish session costs either side).

Usage:
    python scripts/gen_scale_data.py --sf 0.1
    python scripts/gen_scale_data.py --sf 1.0
    python scripts/scale_probe.py [-n 2] [query ...]

Writes scripts/scale_probe_results.json; SCALE.md records the table.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import _materialize  # noqa: E402
from server_spark import registry  # noqa: E402
from server_spark.session import get_spark  # noqa: E402

SMALL = "/root/repo/.localdata/sf0.1g"
BIG = "/root/repo/.localdata/sf1g"
RATIO = 10.0

# Default probe set: the ~25 most expensive registry queries by the
# r11 bench plus the dedup/cluster/ANN pipelines VERDICT r10 called
# out (x15/x21/x41b/x106), plus the headline spine as a linear
# control group.
DEFAULT = [
    # headline spine (control: these must scale ~linearly)
    "a1_miniauction_collapse", "a2_price_stats_median", "a4_owner_volumes",
    "j4_owners_by_items", "o1_multisort_page", "o3_top10_expensive",
    "o4_topn_per_group",
    # most expensive set
    "a50_spearman", "x106_minhash_eval", "x21_corpus_build",
    "x75_containment_pairs", "x122_cluster_provenance", "x90_cluster_density",
    "x77_winnowing_neardup", "a43_adamic_adar", "x32_cluster_survivors_quality",
    "a41_bootstrap_ci", "x15_neardup_components", "x128_image_phash_neardup",
    "x129_audio_fingerprint_neardup", "x41_semantic_dedup", "x41b_semantic_dedup_scaled",
    "x38_incremental_dedup", "t30_robust_outliers", "a51_tail_risk",
    "x107_lsh_calibration", "t53_max_concurrent", "x45_incremental_span_scrub",
    "a20_item_pagerank", "a38_table_profile", "x35_centroid_outliers",
    "x44_span_scrub", "x137_dedup_aware_mix", "a33_kcore_decomposition",
    "x134_cluster_split", "x8_minhash_neardup", "x9_simhash_fingerprint",
    "x11_lsh_cosine_topk", "x14_ivf_topk", "x3_cosine_topk", "x1_exact_dedup",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("-n", type=int, default=2, help="timed repeats (median kept)")
    ap.add_argument("names", nargs="*", default=None)
    args = ap.parse_args()

    qs = registry.queries()
    names = args.names or [n for n in DEFAULT if n in qs]
    missing = [n for n in names if n not in qs]
    if missing:
        raise SystemExit(f"unknown queries: {missing}")

    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    # offline index builds are excluded from timed runs at BOTH sfs
    # (bench.py does the same for the driver dirs)
    from server_spark.similarity.ivf import cached_index

    for d in (SMALL, BIG):
        cached_index(
            spark.read.parquet(os.path.join(d, "embeddings.parquet")),
            cache_key=d,
        )

    _materialize(qs[names[0]](spark, SMALL))  # JVM/codegen warmup

    results: dict[str, dict] = {}
    for name in names:
        row: dict = {}
        err = None
        for key, d in (("small", SMALL), ("big", BIG)):
            samples = []
            for _ in range(args.n):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                try:
                    _materialize(qs[name](spark, d))
                except Exception as e:  # scale bugs are FINDINGS, not
                    # reasons to abort the probe — record and move on
                    err = f"{key}: {type(e).__name__}: {str(e)[:300]}"
                    break
                samples.append(time.perf_counter() - t0)
            if err:
                break
            row[key] = round(sorted(samples)[len(samples) // 2], 3)
        if err:
            results[name] = {"error": err}
            print(f"{name}: ERROR {err}", flush=True)
            continue
        import math

        row["ratio"] = round(row["big"] / max(row["small"], 1e-9), 2)
        row["exponent"] = round(
            math.log(max(row["ratio"], 1e-9)) / math.log(RATIO), 2
        )
        results[name] = row
        print(
            f"{name}: small={row['small']}s big={row['big']}s "
            f"ratio={row['ratio']}x exp={row['exponent']}",
            flush=True,
        )

    out = Path(__file__).resolve().parent / "scale_probe_results.json"
    out.write_text(json.dumps(
        {"small": SMALL, "big": BIG, "data_ratio": RATIO,
         "repeats": args.n, "results": results},
        indent=1,
    ) + "\n")
    bends = {
        n: r for n, r in results.items()
        if "exponent" in r and r["exponent"] > 1.25
    }
    errors = sorted(n for n, r in results.items() if "error" in r)
    print(f"\n{len(results)} probed; super-linear (exp>1.25): "
          f"{sorted(bends) or 'none'}; errors: {errors or 'none'}")


if __name__ == "__main__":
    main()
