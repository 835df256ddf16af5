"""Benchmark inputs. Every workload reads the committed sf0.01 tables under
perfbench/data; a workload with `documents_copies` instead reads a directory
whose `documents` table is generated from the seed: row i has doc_id i and
copies a seed-chosen base document. The other tables are copied unchanged.
"""
import os
import random
import shutil
import time

from oracle import TABLES


def generate(base_dir, out_dir, seed, copies):
    """Writes the generated input directory; returns its description."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = time.perf_counter()
    os.makedirs(out_dir, exist_ok=True)
    base = pq.read_table(os.path.join(base_dir, "documents.parquet"))
    n = base.num_rows * copies
    rng = random.Random(seed)
    docs = base.take(pa.array([rng.randrange(base.num_rows) for _ in range(n)]))
    docs = docs.set_column(docs.schema.get_field_index("doc_id"), "doc_id",
                           pa.array(range(n), type=pa.int64()))
    path = os.path.join(out_dir, "documents.parquet")
    # one row group, like the base tables: a bare scan is one task
    pq.write_table(docs, path, row_group_size=n)
    for t in TABLES:
        if t != "documents":
            shutil.copyfile(os.path.join(base_dir, t + ".parquet"),
                            os.path.join(out_dir, t + ".parquet"))
    meta = pq.ParquetFile(path).metadata
    return {"gen_s": time.perf_counter() - t0, "documents_rows": meta.num_rows,
            "documents_bytes": os.path.getsize(path),
            "documents_row_groups": meta.num_row_groups}
