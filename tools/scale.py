"""Growth curve of registry entries on a K× replicated warehouse.

Usage (from the repository root):

    python tools/scale.py K ENTRY [ENTRY ...] [--sf DIR]

Builds one K× copy of the warehouse in DIR (``--sf`` defaults to
``$SPARK_GRAFT_SF_DIR``) under ``tempfile.gettempdir()``, and reuses it
while its completion marker is present. One copy policy:

- dimension tables (region, nation, customer, supplier, part) are
  copied once, so every foreign key still resolves;
- fact tables (orders, lineitem, events, documents, embeddings) are
  copied K times. Copy c shifts the table's own id by c × (max id + 1);
  ``l_orderkey`` follows ``o_orderkey``. Events keep ``user_id`` and
  shift ``ts`` by c × the table's span in whole days, so each user's
  stream grows K× without copies overlapping;
- copy 0 equals the source row for row. Copies > 0 perturb document
  text and embedding vectors, so near-duplicate families meet
  near-duplicates, not exact ones.

For each entry: one untimed warm-up, then the min of 3 runs into a
noop sink, at 1× and at K×. Prints one JSON line per entry (``t1_s``,
``tk_s``, ``ratio``, Spark jobs of the fastest run at each scale) and a
last line with the warehouse dir and the Spark JVM's peak RSS.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from perfbench.run import vm_hwm_mb  # noqa: E402
from tools.ab import resolve, session, timed_run  # noqa: E402

DIMENSIONS = ("region", "nation", "customer", "supplier", "part")
# fact table -> the id column its copies shift
FACTS = {
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}
_MARKER = "_COMPLETE"


def perturbed_text() -> F.Column:
    """``text`` with ~1/3 of its tokens (hash-selected per copy) prefixed
    by ``v<copy>``, so copies are near-duplicates of each other."""
    return F.array_join(
        F.transform(
            F.split(F.col("text"), r"\s+"),
            lambda t: F.when(
                F.pmod(F.xxhash64(t, F.col("copy")), F.lit(3)) == 0,
                F.concat(F.lit("v"), F.col("copy").cast("string"), t),
            ).otherwise(t),
        ),
        " ",
    )


def perturbed_vectors() -> F.Column:
    """``embedding`` plus a per-(vector, copy) hash-seeded epsilon in
    every dimension, so copies are near neighbours, not duplicates."""
    eps = (
        F.pmod(F.xxhash64(F.col("vec_id"), F.col("copy")), F.lit(1000)).cast("double")
        / 10000.0
        * F.col("copy").cast("double")
    )
    return F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x, i: x + eps * (i + 1) / 64.0,
    ).cast("array<float>")


def warehouse_dir(sf_dir: str, k: int) -> Path:
    key = hashlib.md5(str(Path(sf_dir).resolve()).encode()).hexdigest()[:10]
    return Path(tempfile.gettempdir()) / f"scale_{k}x_{key}"


def build_warehouse(spark, sf_dir: str, k: int) -> str:
    """The K× warehouse of ``sf_dir`` (see the module docstring)."""
    out = warehouse_dir(sf_dir, k)
    if (out / _MARKER).exists():
        return str(out)
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    for table in DIMENSIONS:
        src = Path(sf_dir) / f"{table}.parquet"
        if src.is_dir():
            shutil.copytree(src, out / src.name, copy_function=shutil.copyfile)
        else:
            shutil.copyfile(src, out / src.name)

    def read(table):
        return spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))

    copies = F.broadcast(spark.range(k).withColumnRenamed("id", "copy"))
    original = F.col("copy") == 0
    steps = {t: read(t).agg(F.max(c)).first()[0] + 1 for t, c in FACTS.items()}
    steps["lineitem"] = steps["orders"]
    span_days = read("events").select(
        F.datediff(F.max("ts"), F.min("ts")) + 1
    ).first()[0]
    for table, id_col in FACTS.items():
        df = read(table).crossJoin(copies)
        if table == "events":
            df = df.withColumn(
                "ts", F.expr(f"ts + make_dt_interval(CAST(copy * {span_days} AS INT))")
            )
        elif table == "documents":
            df = df.withColumn(
                "text", F.when(original, F.col("text")).otherwise(perturbed_text())
            ).withColumn(
                "n_chars",
                F.when(original, F.col("n_chars")).otherwise(F.length("text")),
            )
        elif table == "embeddings":
            df = df.withColumn(
                "embedding",
                F.when(original, F.col("embedding")).otherwise(perturbed_vectors()),
            )
        (
            df.withColumn(id_col, F.col(id_col) + F.col("copy") * steps[table])
            .drop("copy")
            .write.mode("overwrite")
            .parquet(str(out / f"{table}.parquet"))
        )
    (out / _MARKER).touch()
    return str(out)


def best_of_3(spark, builder, sf_dir: str, group: str) -> tuple[float, int]:
    timed_run(spark, builder, sf_dir, f"{group}:warmup")
    return min(timed_run(spark, builder, sf_dir, f"{group}:{i}") for i in range(3))


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("k", type=int)
    ap.add_argument("entries", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    args = ap.parse_args(argv)
    if not args.sf:
        ap.error("--sf is required when SPARK_GRAFT_SF_DIR is unset")
    if args.k < 1:
        ap.error("K must be at least 1")
    builders = {name: resolve(name) for name in args.entries}

    spark = session("scale")
    big = build_warehouse(spark, args.sf, args.k)
    for name, builder in builders.items():
        t1, jobs_1 = best_of_3(spark, builder, args.sf, f"scale:{name}:1x")
        tk, jobs_k = best_of_3(spark, builder, big, f"scale:{name}:{args.k}x")
        print(json.dumps({
            "entry": name,
            "t1_s": round(t1, 3),
            "tk_s": round(tk, 3),
            "ratio": round(tk / t1, 2),
            "jobs_1": jobs_1,
            "jobs_k": jobs_k,
        }), flush=True)
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    print(json.dumps({
        "k": args.k,
        "sf_dir": args.sf,
        "warehouse": big,
        "jvm_peak_rss_mb": round(vm_hwm_mb(jvm_pid)),
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
