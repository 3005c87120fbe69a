"""Measured scaling for the flagship reference workload (r8 VERDICT
directive #4): ``api_log_feature_job_e2e`` is corpus-fixed (it reads
the 1,604-file api_logs corpus — the reference's own where present,
else the generated one, sources/api_log_corpus.py::api_log_root — so
bench.py's per-SF legs would measure identical work thrice and
correctly skip it).  This probe builds REPLICATED corpora — every file copied K× under a
distinct name (`` rN)converted.txt`` suffix), so doc count, per-class
document frequencies, and LIBSVM output all scale by K while the token
vocabulary stays the reference's own — and measures the identical
end-to-end chain (scan → IG top-2000 → vocab join → LIBSVM lines) at
1×, 4×, and 16×.

Replication semantics: with every document duplicated K×, each token's
(pos_df, neg_df) scales by exactly K and the class totals too, so the
information-gain RANKING is invariant (IG is a function of the
fractions) — the 4×/16× legs exercise the same vocab selection over K×
the scan/explode/join volume.  That is the right scaling axis for this
job: a bigger corpus of the same traffic mix.

Usage: python scripts/bench_api_corpus_probe.py [--runs N]
Prints one JSON line: per-scale medians + fitted log-log exponents.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from big_data_virus_analysis_spark.sources.api_log_corpus import api_log_root  # noqa: E402

REF = api_log_root()
SCALES = (1, 4, 16)
BASE_TMP = "/tmp/bdva_api_scaled"


def build_replica(factor: int) -> tuple[str, str]:
    """K× copy of the corpus with per-replica distinct file names."""
    if factor == 1:
        return f"{REF}/clean_LOGS_CONVERTED", f"{REF}/virus_LOGS_CONVERTED"
    root = f"{BASE_TMP}_x{factor}"
    done = os.path.join(root, ".complete")
    if not os.path.exists(done):
        shutil.rmtree(root, ignore_errors=True)
        for sub in ("clean_LOGS_CONVERTED", "virus_LOGS_CONVERTED"):
            src = os.path.join(REF, sub)
            dst = os.path.join(root, sub)
            os.makedirs(dst)
            for name in os.listdir(src):
                stem = name[: -len("converted.txt")] if name.endswith(
                    "converted.txt"
                ) else name
                with open(os.path.join(src, name), "rb") as f:
                    payload = f.read()
                for r in range(factor):
                    out = f"{stem.rstrip()} r{r})converted.txt"
                    with open(os.path.join(dst, out), "wb") as f:
                        f.write(payload)
        with open(done, "w") as f:
            f.write("ok")
    return (
        os.path.join(root, "clean_LOGS_CONVERTED"),
        os.path.join(root, "virus_LOGS_CONVERTED"),
    )


def main() -> None:
    runs = 3
    if "--runs" in sys.argv:
        runs = int(sys.argv[sys.argv.index("--runs") + 1])

    from big_data_virus_analysis_spark.operators.caching import (
        release_tracked_caches,
    )
    from big_data_virus_analysis_spark.session import get_spark
    from big_data_virus_analysis_spark.sources.api_logs import api_log_libsvm_lines

    spark = get_spark("api-corpus-probe")
    spark.sparkContext.setLogLevel("ERROR")

    def once(clean_dir: str, virus_dir: str) -> float:
        t0 = time.perf_counter()
        api_log_libsvm_lines(spark, clean_dir, virus_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        dt = time.perf_counter() - t0
        release_tracked_caches()
        spark.catalog.clearCache()
        return dt

    result: dict = {"metric": "api_log_feature_job_e2e_scaling", "unit": "sec"}
    medians: dict[int, float] = {}
    spread: dict[int, list[float]] = {}
    for factor in SCALES:
        clean_dir, virus_dir = build_replica(factor)
        once(clean_dir, virus_dir)  # warmup (codegen + page cache)
        times = [once(clean_dir, virus_dir) for _ in range(runs)]
        medians[factor] = round(statistics.median(times), 3)
        spread[factor] = [round(min(times), 3), round(max(times), 3)]
        print(f"x{factor}: median {medians[factor]}s spread {spread[factor]}",
              file=sys.stderr)
    exps = {}
    exp_iv = {}
    for a, b in zip(SCALES, SCALES[1:]):
        denom = math.log(b / a)
        exps[f"x{a}->x{b}"] = round(
            math.log(medians[b] / medians[a]) / denom, 2
        )
        lo_a, hi_a = spread[a]
        lo_b, hi_b = spread[b]
        exp_iv[f"x{a}->x{b}"] = [
            round(math.log(lo_b / hi_a) / denom, 2),
            round(math.log(hi_b / lo_a) / denom, 2),
        ]
    result["medians"] = {f"x{k}": v for k, v in medians.items()}
    result["spread"] = {f"x{k}": v for k, v in spread.items()}
    result["exponents"] = exps
    result["exponent_intervals"] = exp_iv
    print(json.dumps(result))


if __name__ == "__main__":
    main()
