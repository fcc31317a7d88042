"""Seeded input generator.

The tick tapes are replicas of the shipped ``events`` table, built the way
``graft.Replicate`` builds its events copies: copy ``r`` shifts
``event_id`` by ``r * KEY_STRIDE`` and ``user_id`` by ``r * USER_STRIDE``.
On top of that the seed picks

* a permutation of the user (symbol) ids that maps each id into its own
  ``% 10`` cohort, and
* the order of the rows across the tape's part files.

Timestamps, values and props stay as shipped, so the program's data
contract holds. The seed also fixes the order of the query mix.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KEY_STRIDE = 10_000_000  # graft.Replicate.KeyStride
USER_STRIDE = 10_000     # graft.Replicate.UserStride

MIX_TABLES = ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"]


def cohort_permutation(n_users, rng):
    """Permutation of 0..n_users-1 that keeps every id's residue mod 10."""
    ids = np.arange(n_users)
    perm = np.empty_like(ids)
    for c in range(10):
        members = ids[ids % 10 == c]
        perm[members] = rng.permutation(members)
    return perm


def make_tape(src_events, dst_dir, seed, copies, files):
    """Writes ``copies`` replicas of ``src_events`` as ``files`` parquet
    parts under ``dst_dir`` and returns the tape's counts."""
    rng = np.random.default_rng(seed)
    base = pq.read_table(src_events)
    uid = base.column("user_id").to_numpy()
    perm = cohort_permutation(int(uid.max()) + 1, rng)
    eid = base.column("event_id").to_numpy()
    reps = []
    for r in range(copies):
        reps.append(base
                    .set_column(base.schema.get_field_index("event_id"), "event_id",
                                pa.array(eid + r * KEY_STRIDE, pa.int64()))
                    .set_column(base.schema.get_field_index("user_id"), "user_id",
                                pa.array(perm[uid] + r * USER_STRIDE, pa.int64())))
    tape = pa.concat_tables(reps).take(pa.array(rng.permutation(len(uid) * copies)))
    os.makedirs(dst_dir, exist_ok=True)
    bounds = np.linspace(0, tape.num_rows, files + 1).astype(int)
    for i in range(files):
        pq.write_table(tape.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(dst_dir, f"part-{i:05d}.parquet"))
    return {"ticks": tape.num_rows, "files": files,
            "symbols": int(len(np.unique(tape.column("user_id").to_numpy())))}


def copy_tables(src_dir, dst_dir):
    """The shipped tables, one file each, copied into the checkout so the
    program reads its inputs from there."""
    os.makedirs(dst_dir, exist_ok=True)
    rows = 0
    for t in MIX_TABLES:
        shutil.copyfile(os.path.join(src_dir, f"{t}.parquet"),
                        os.path.join(dst_dir, f"{t}.parquet"))
        rows += pq.read_metadata(os.path.join(dst_dir, f"{t}.parquet")).num_rows
    return {"rows": rows, "files": len(MIX_TABLES)}


def mix_order(seed, keys):
    """The seeded order in which the query mix runs its keys."""
    return [keys[i] for i in np.random.default_rng(seed).permutation(len(keys))]
