"""Measure GTID-positioned resume vs full re-scan.

Builds a rotated binlog series (N files, contiguous gno ranges, each
file head carrying its PREVIOUS_GTIDS summary — what a retained MySQL
history looks like), then times:

  full   — mysql_binlog_read_parallel over the whole series
  resume — mysql_binlog_read_gtid_range for a tail window covering the
           last file only (the checkpoint-restart shape)

The resume read should cost O(window): all earlier files skip off
their PREVIOUS_GTIDS head after one event read, never range-decoding.
Each timing covers DataFrame build plus count, because the scan is
planned on the driver when the DataFrame is built (file pruning,
header walks) and one Spark stage then decodes the planned ranges.

Usage: python scripts/gtid_resume_bench.py [n_files] [txns_per_file]
"""

from __future__ import annotations

import sys
import tempfile
import time
from decimal import Decimal
from pathlib import Path

from pyspark.sql import types as T

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from mysql_cdc_table_spark.session import get_spark  # noqa: E402
from mysql_cdc_table_spark.sources.mysql_binlog import (  # noqa: E402
    build_binlog_file,
    mysql_binlog_read_gtid_range,
    mysql_binlog_read_parallel,
)

TARGET = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("amt", T.DecimalType(10, 2)),
    ]
)


def main() -> None:
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    per_file = int(sys.argv[2]) if len(sys.argv) > 2 else 20_000
    spark = get_spark()
    sid = b"\x11" * 16
    tmp = Path(tempfile.mkdtemp(prefix="gtid_resume_bench_"))
    gno = 1
    for i in range(1, n_files + 1):
        txns = [
            {
                "gno": g,
                "op": "w",
                "rows": [
                    {"id": g, "v": f"v{g}", "amt": Decimal(g % 9999) / 100}
                ],
            }
            for g in range(gno, gno + per_file)
        ]
        blob = build_binlog_file(
            "d", "t", TARGET, txns, checksum=True,
            # first file: EMPTY set, as a fresh server's binlog.000001
            previous_gtids={sid: [(1, gno)]} if gno > 1 else {sid: []},
        )
        (tmp / f"binlog.{i:06d}").write_bytes(blob)
        gno += per_file
    total = n_files * per_file
    window_start = total - per_file  # resume inside the LAST file
    size_mb = sum(p.stat().st_size for p in tmp.iterdir()) / 2**20

    def run(build) -> tuple[float, int]:
        t0 = time.perf_counter()
        n = build().count()
        return time.perf_counter() - t0, n

    # warm the JVM/python workers once
    run(lambda: mysql_binlog_read_parallel(spark, str(tmp), TARGET, "d", "t"))

    t_full, n_full = run(
        lambda: mysql_binlog_read_parallel(spark, str(tmp), TARGET, "d", "t")
    )
    t_res, n_res = run(
        lambda: mysql_binlog_read_gtid_range(
            spark, str(tmp), TARGET, "d", "t",
            start_after_gno=window_start,
        )
    )
    assert n_full == total and n_res == per_file, (n_full, n_res)
    print(
        f"series: {n_files} files / {size_mb:.0f} MiB / {total} txns; "
        f"resume window: last {per_file} txns"
    )
    print(f"full re-scan : {t_full:.2f}s ({n_full} rows)")
    print(f"gtid resume  : {t_res:.2f}s ({n_res} rows)  "
          f"[{t_full / t_res:.1f}x]")

    # --- multi-source boundary trim (round 8, r07 watch item 3) ------
    # Two origins interleaved in every file (even gno -> A, odd -> B).
    # Per-sid bounds land the resume near the END of the last file, so
    # the boundary file is almost wholly consumed prefix. Before the
    # trim, read_gtid_sets range-decoded that file fully and
    # row-filtered (emulated below); with it, the header walk skips
    # the consumed prefix unscheduled.
    from pyspark.sql import functions as F

    from mysql_cdc_table_spark.sources.mysql_binlog import (
        _sid_to_uuid,
        mysql_binlog_read_gtid_sets,
        prune_binlog_series_by_gtid_sets,
    )

    sid_b = b"\x22" * 16
    tmp2 = Path(tempfile.mkdtemp(prefix="gtid_resume_bench_ms_"))
    gno = 1
    for i in range(1, n_files + 1):
        txns = [
            {
                "gno": g,
                "op": "w",
                "sid": sid if g % 2 == 0 else sid_b,
                "rows": [
                    {"id": g, "v": f"v{g}", "amt": Decimal(g % 9999) / 100}
                ],
            }
            for g in range(gno, gno + per_file)
        ]
        blob = build_binlog_file(
            "d", "t", TARGET, txns, checksum=True,
            previous_gtids=(
                {sid: [(1, gno)], sid_b: [(1, gno)]}
                if gno > 1
                else {sid: [], sid_b: []}
            ),
        )
        (tmp2 / f"binlog.{i:06d}").write_bytes(blob)
        gno += per_file
    tail = max(per_file // 20, 10)  # resume window: last 5% of a file
    cut = total - tail
    bounds = {
        sid: cut if cut % 2 == 0 else cut - 1,      # last even <= cut
        sid_b: cut if cut % 2 == 1 else cut - 1,    # last odd  <= cut
    }
    def per_sid_filtered_full(trim: bool):
        # trim=False emulates the pre-round-8 path: decode every kept
        # file fully, then per-sid row filter (output identical)
        keep = prune_binlog_series_by_gtid_sets(
            sorted(str(p) for p in tmp2.iterdir()), bounds
        )
        out = mysql_binlog_read_parallel(
            spark, keep, TARGET, "d", "t", gtid_format="uuid_gno",
            start_after_sets=bounds if trim else None,
        )
        bm = F.create_map(
            *[
                lit
                for s_, g_ in bounds.items()
                for lit in (F.lit(_sid_to_uuid(s_)), F.lit(int(g_)))
            ]
        )
        return out.filter(
            F.col("__gtid") > F.coalesce(bm[F.col("__gtid_src")], F.lit(0))
        )

    run(lambda: per_sid_filtered_full(True))  # warm
    t_old, n_old = run(lambda: per_sid_filtered_full(False))
    t_new, n_new = run(
        lambda: mysql_binlog_read_gtid_sets(
            spark, str(tmp2), TARGET, "d", "t", start_after=bounds
        )
    )
    assert n_old == n_new, (n_old, n_new)
    print(
        f"multi-source resume (2 sids, window = last {tail} txns of "
        f"{total}):"
    )
    print(f"  boundary decoded fully (pre-r08): {t_old:.2f}s ({n_old} rows)")
    print(f"  consumed prefix trimmed  (r08)  : {t_new:.2f}s ({n_new} rows)  "
          f"[{t_old / t_new:.1f}x]")


if __name__ == "__main__":
    main()
