"""Seeded ingest inputs, cut from the generated fixtures.

From `<fixtures>/events.parquet` and `<fixtures>/documents.parquet`
writes, under the output directory:

- `corpus.parquet`: the first fifth of `documents` (by doc_id), which
  seeds the set-similarity index;
- `events_<b>.parquet`: every event, each assigned to one of the
  batches at random;
- `docs_<b>.parquet`: fresh documents drawn from the rest (an equal
  share per batch, at most twice the corpus), plus as many again as a
  third of them re-delivering earlier documents (corpus or earlier
  batches) under the new id `1_000_000 * (b + 1) + original id`, so a
  quarter of each batch is re-delivered.

The seed picks the event split, the document order and the re-delivered
documents. Usage: python3 perfbench/inputs.py <fixtures> <out> <seed> <batches>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REDELIVERED = 1_000_000


def write(fixtures, out_dir, seed, batches):
    if os.path.isdir(out_dir):
        return out_dir
    rng = np.random.default_rng(seed)
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    events = pq.read_table(os.path.join(fixtures, "events.parquet"))
    assign = rng.integers(0, batches, events.num_rows)
    for b in range(batches):
        pq.write_table(events.filter(pa.array(assign == b)),
                       os.path.join(tmp, f"events_{b}.parquet"))
    docs = pq.read_table(os.path.join(fixtures, "documents.parquet"))
    docs = docs.sort_by("doc_id")
    n_corpus = docs.num_rows // 5
    pq.write_table(docs.slice(0, n_corpus), os.path.join(tmp, "corpus.parquet"))
    earlier = np.arange(n_corpus)
    rest = n_corpus + rng.permutation(docs.num_rows - n_corpus)
    per_batch = min(len(rest) // batches, 2 * n_corpus)
    ids = docs.column("doc_id").to_numpy()
    for b in range(batches):
        fresh = rest[b * per_batch:(b + 1) * per_batch]
        again = rng.choice(earlier, len(fresh) // 3, replace=False)
        copies = docs.take(pa.array(again))
        copies = copies.set_column(
            0, "doc_id", pa.array(REDELIVERED * (b + 1) + ids[again], pa.int64()))
        batch = pa.concat_tables([docs.take(pa.array(fresh)), copies])
        batch = batch.take(pa.array(rng.permutation(batch.num_rows)))
        pq.write_table(batch, os.path.join(tmp, f"docs_{b}.parquet"))
        earlier = np.concatenate([earlier, fresh])
    os.rename(tmp, out_dir)
    return out_dir


if __name__ == "__main__":
    write(sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4]))
