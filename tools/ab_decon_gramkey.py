"""Interleaved A/B: decontaminate_overlap(n=8) md5 vs int64 gram keys.

Round-7 measurement for the gram_key flag on the fused decontaminate:
same corpus sharing as the contract (_docs spread + persisted), full
query timed to a count(), alternating variants per pass so host drift
hits both arms equally. Prints one JSON line.

Usage: python tools/ab_decon_gramkey.py [sf_dir] [passes]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else ".scaling/sf10-open"
    passes = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    from flink_project_spark.llm import curation as CUR
    from flink_project_spark.session import get_spark, spread

    # the engine's session: its driver heap is sized to the host
    spark = get_spark(
        app_name="ab_decon_gramkey", cpus=os.cpu_count(), shuffle_partitions=32
    )
    spark.sparkContext.setLogLevel("ERROR")

    docs = spread(
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
            "doc_id", "text"
        )
    ).persist()
    n_docs = docs.count()
    bench = docs.filter("doc_id % 50 = 0")

    def run(gram_key: str) -> tuple[float, int]:
        t0 = time.monotonic()
        n = CUR.decontaminate_overlap(
            docs, bench, n=8, min_overlap=0.8, gram_key=gram_key
        ).count()
        return time.monotonic() - t0, n

    # warm-up both arms once (codegen/JIT), then interleave timed passes
    rows = {k: run(k)[1] for k in ("md5", "int64")}
    times: dict[str, list[float]] = {"md5": [], "int64": []}
    for _ in range(passes):
        for k in ("md5", "int64"):
            t, n = run(k)
            assert n == rows[k], (k, n, rows[k])
            times[k].append(round(t, 2))
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "n_docs": n_docs,
                "rows": rows,
                "passes": times,
                "min": {k: min(v) for k, v in times.items()},
            }
        )
    )


if __name__ == "__main__":
    main()
