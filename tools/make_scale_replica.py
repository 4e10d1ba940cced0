"""Build a ~10x replica of an sf directory for scale-evidence runs.

Every scale claim in the operator docstrings is plan-shape reasoning;
this tool manufactures the empirical check: each table is unioned 10
times with id columns shifted by copy_index * (max_id + 1), so copy 0
is the original data (query constants like ``vec_id < 8`` still hit)
and the key space grows with the data (10x more users/orders/docs, not
10x heavier keys). Non-key columns are left untouched — for documents
that means replicas are exact near-duplicates of their source doc,
which pushes the corpus duplicate rate to ~90%: noted in
BENCH_SCALE.md where it matters (the dedup pair stage is superlinear
in duplicate-cluster size by design).

Usage:  python tools/make_scale_replica.py [src_sf_dir] [dest_dir] [copies]
Writes dest_dir/<table>.parquet for all ten driver tables.
"""

from __future__ import annotations

import pathlib
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: id columns to shift per table (dims region/nation stay 1x copies —
#: they are bounded lookup tables at any scale)
SHIFT: dict[str, list[str]] = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
#: foreign keys shift by the REFERENCED table's offset, not their own
#: max: if any referenced key never appears in the referencing column
#: (spec TPC-H guarantees this — custkeys divisible by 3 place no
#: orders), a per-column max would shift the two sides by different
#: amounts and every replica copy's FKs would dangle or cross copies.
FK_REF: dict[str, tuple[str, str]] = {
    "o_custkey": ("customer", "c_custkey"),
    "l_orderkey": ("orders", "o_orderkey"),
    "l_partkey": ("part", "p_partkey"),
    "l_suppkey": ("supplier", "s_suppkey"),
}
COPY_ONLY = ("region", "nation")


def replicate(spark: SparkSession, src: str, dest: str, copies: int) -> None:
    out = pathlib.Path(dest)
    out.mkdir(parents=True, exist_ok=True)
    import shutil as _shutil

    from employee_data_management_system_data_engineering_solution_spark.sources.io import (
        read_parquet,
    )

    for table in COPY_ONLY:
        dest = out / f"{table}.parquet"
        if dest.is_dir():
            _shutil.rmtree(dest)
        elif dest.exists():
            dest.unlink()
        _shutil.copyfile(f"{src}/{table}.parquet", str(dest))
        print(f"{table}: copied 1x")
    # primary-key offsets come from the key's OWN table; FK columns
    # reuse the referenced key's offset so join alignment survives
    pk_offset: dict[tuple[str, str], int] = {}
    for table, keys in SHIFT.items():
        df = read_parquet(spark, f"{src}/{table}.parquet")
        own = [k for k in keys if k not in FK_REF]
        if own:
            maxes = df.agg(*[F.max(k).alias(k) for k in own]).collect()[0]
            for k in own:
                pk_offset[(table, k)] = int(maxes[k]) + 1
    for table, keys in SHIFT.items():
        df = read_parquet(spark, f"{src}/{table}.parquet")
        offsets = {
            k: pk_offset[FK_REF[k]] if k in FK_REF else pk_offset[(table, k)]
            for k in keys
        }
        parts: list[DataFrame] = []
        for i in range(copies):
            cur = df
            for k in keys:
                cur = cur.withColumn(k, (F.col(k) + F.lit(i * offsets[k])).cast("long"))
            parts.append(cur)
        union = parts[0]
        for p in parts[1:]:
            union = union.unionByName(p)
        # single file per table, mirroring the driver testdata layout —
        # the streaming replay harness symlinks {sf_dir}/events.parquet
        # as a FILE, and row groups still split across scan tasks
        work = str(out / f"__{table}_work")
        union.coalesce(1).write.mode("overwrite").parquet(work)
        import glob as _glob
        import shutil as _shutil

        part_file = _glob.glob(f"{work}/part-*.parquet")[0]
        dest = out / f"{table}.parquet"
        if dest.is_dir():
            _shutil.rmtree(dest)
        _shutil.move(part_file, str(dest))
        _shutil.rmtree(work)
        # keeps inference: the count checks the file as a fresh reader sees it
        n = spark.read.parquet(str(dest)).count()
        print(f"{table}: {n} rows ({copies}x)")


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    root = pathlib.Path(__file__).resolve().parents[1]
    dest = sys.argv[2] if len(sys.argv) > 2 else str(root / ".scale_sf1")
    copies = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    sys.path.insert(0, str(root))
    from employee_data_management_system_data_engineering_solution_spark import get_session

    # get_session reads TIMESTAMP(NANOS) columns as long
    # (spark.sql.legacy.parquet.nanosAsLong)
    spark = get_session("scale-replica", master="local[32]", shuffle_partitions=32)
    replicate(spark, src, dest, copies)


if __name__ == "__main__":
    main()
