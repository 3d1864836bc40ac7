"""Seeded generator for the 10x-sf0.1 data family.

``ensure_full_scale_dir(k)`` writes all ten fixture tables at k times the
row counts of the sf0.1 fixtures in ``BASE_SF_DIR`` into
``WORK_DIR/x{k}full`` (seeded from ``SEED``, deterministic; the fixture
directory is never written) and returns that directory.
``tests/test_scale10.py`` runs the DuckDB-oracle mirror on the x10 family,
and ``perfbench/datagen.py`` imports ``_replicate_keyed`` to build its own
``x10`` inputs. Timing lives in ``perfbench/`` alone (see its README).

Generation recipes, all modelled on the sf0.1 fixtures:
  * documents: fresh text from the fixture's OWN vocabulary at its
    empirical token frequencies, uniform 10-99 word lengths, its
    lang/source marginals. Fresh generation (not row replication) —
    replicating docs k-fold would plant k-cliques of exact duplicates.
  * embeddings: uniform(-1/sqrt(3), 1/sqrt(3)) float32, dim 64, 10
    labels — the fixture's observed distribution.
  * fact tables: the sf0.1 rows replicated k-fold with shifted keys
    (``_replicate_keyed``), so moment sums and join fan-outs scale
    exactly linearly, which is what real growth does to them.
"""

from __future__ import annotations

import os

BASE_SF_DIR = "/root/testdata/sf0.1"
WORK_DIR = "/tmp/spark_graft_scaling"
SEED = 42


def _fixture_profiles():
    """Empirical marginals measured from the sf0.1 fixtures."""
    import duckdb

    con = duckdb.connect()
    doc = f"read_parquet('{BASE_SF_DIR}/documents.parquet')"
    vocab = con.execute(
        f"""SELECT token, count(*) AS n FROM (
            SELECT unnest(string_split(text, ' ')) AS token FROM {doc})
            WHERE token <> '' GROUP BY token ORDER BY token"""
    ).fetchall()
    langs = con.execute(
        f"SELECT lang, count(*) FROM {doc} GROUP BY lang ORDER BY lang"
    ).fetchall()
    sources = con.execute(
        f"SELECT source, count(*) FROM {doc} GROUP BY source ORDER BY source"
    ).fetchall()
    con.close()
    return vocab, langs, sources


def _gen_documents(out: str, n: int, rng) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    vocab, langs, sources = _fixture_profiles()
    words = np.array([w for w, _ in vocab])
    p_words = np.array([c for _, c in vocab], dtype=float)
    p_words /= p_words.sum()
    lang_names = np.array([l for l, _ in langs])
    p_lang = np.array([c for _, c in langs], dtype=float)
    p_lang /= p_lang.sum()
    src_names = np.array([s for s, _ in sources])
    p_src = np.array([c for _, c in sources], dtype=float)
    p_src /= p_src.sum()

    lengths = rng.randint(10, 100, size=n)
    flat = rng.choice(len(words), size=int(lengths.sum()), p=p_words)
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(words[flat[pos : pos + ln]]))
        pos += ln
    tbl = pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(
                lang_names[rng.choice(len(lang_names), size=n, p=p_lang)],
                pa.string(),
            ),
            "source": pa.array(
                src_names[rng.choice(len(src_names), size=n, p=p_src)],
                pa.string(),
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, out)


def _gen_embeddings(out: str, n: int, rng) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    bound = 1.0 / np.sqrt(3.0)
    mat = rng.uniform(-bound, bound, size=(n, 64)).astype(np.float32)
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(list(mat), pa.list_(pa.float32())),
            "label": pa.array(rng.randint(0, 10, size=n), pa.int32()),
        }
    )
    pq.write_table(tbl, out)


def _replicate_keyed(src: str, out: str, k: int, shifts: dict[str, int]) -> None:
    """k copies of a parquet table with per-copy key-column shifts.

    Copy i adds ``i * shifts[col]`` to each column in ``shifts`` — the
    same replication recipe _gen_lineitem uses, generalized so parent /
    child tables can share ONE shift per key family and keep their FKs
    intact across copies.
    """
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    base = pq.read_table(src)
    copies = []
    for i in range(k):
        t = base
        if i:
            for col, shift in shifts.items():
                t = t.set_column(
                    t.schema.get_field_index(col),
                    col,
                    pc.add(t[col], i * shift),
                )
        copies.append(t)
    pq.write_table(pa.concat_tables(copies), out)


def ensure_full_scale_dir(k: int) -> str:
    """Generate /tmp/spark_graft_scaling/x{k}full — ALL TEN fixture
    tables at k× sf0.1 — if absent; return the dir.

    The oracle-parity family (VERDICT r8 item 3): the family is complete
    so the DuckDB oracle harness can run against it — the check that
    catches synthetic-key constructions that only collide past fixture scale
    (the q_etl_merge_tombstones +10**7 insert-key bug fixed in commit
    3ff3f0f collided from ~sf7; this dir IS sf1-equivalent and the
    negated-key fix is exercised at 10× the key range).

      * orders + lineitem: replicated k-fold with a SHARED orderkey
        shift (max orderkey over both tables + 1), so every copied
        lineitem still joins its copied order — growth that preserves
        FK integrity. o_custkey / l_suppkey / l_partkey stay in the
        fixed dimension universe (10× facts per dim row — how real
        growth looks to a star schema).
      * events: replicated k-fold with shifted event_id, SAME user_id
        and ts — per-user/per-day densities grow 10× and duplicated
        timestamps make the family deliberately TIE-DENSE, exactly the
        regime where rank/median interpolation and decimal rounding-tie
        bugs live.
      * documents / embeddings: fresh seeded generation at k× rows
        (replication would plant quadratic duplicate cliques).
      * region/nation/customer/supplier/part: copied fixed (dimensions).
    """
    import shutil

    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    d = os.path.join(WORK_DIR, f"x{k}full")
    marker = os.path.join(d, ".complete")
    if os.path.exists(marker):
        return d
    os.makedirs(d, exist_ok=True)
    rng = np.random.RandomState(SEED + 100 + k)
    _gen_documents(os.path.join(d, "documents.parquet"), 5000 * k, rng)
    _gen_embeddings(os.path.join(d, "embeddings.parquet"), 2000 * k, rng)

    o_max = int(
        pc.max(pq.read_table(f"{BASE_SF_DIR}/orders.parquet")["o_orderkey"]).as_py()
    )
    l_max = int(
        pc.max(pq.read_table(f"{BASE_SF_DIR}/lineitem.parquet")["l_orderkey"]).as_py()
    )
    okey_shift = max(o_max, l_max) + 1
    _replicate_keyed(
        f"{BASE_SF_DIR}/orders.parquet",
        os.path.join(d, "orders.parquet"),
        k,
        {"o_orderkey": okey_shift},
    )
    _replicate_keyed(
        f"{BASE_SF_DIR}/lineitem.parquet",
        os.path.join(d, "lineitem.parquet"),
        k,
        {"l_orderkey": okey_shift},
    )
    e_max = int(
        pc.max(pq.read_table(f"{BASE_SF_DIR}/events.parquet")["event_id"]).as_py()
    )
    _replicate_keyed(
        f"{BASE_SF_DIR}/events.parquet",
        os.path.join(d, "events.parquet"),
        k,
        {"event_id": e_max + 1},
    )
    for dim in ("region", "nation", "customer", "supplier", "part"):
        shutil.copyfile(
            f"{BASE_SF_DIR}/{dim}.parquet", os.path.join(d, f"{dim}.parquet")
        )
    with open(marker, "w") as fh:
        fh.write("ok")
    return d
