"""Physical-layout semantics the oracle can't see: compaction actually
reduces file counts, and the sorted layout actually produces disjoint
per-file time ranges (the precondition for row-group pruning)."""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pipelinejobs_indexer_spark.plans.layout import (  # noqa: E402
    FRAGMENT_FILES,
    _scratch,
    agg_key_skew_profile,
    sink_compact_small_files,
    sink_sorted_layout,
)

SF = "/root/testdata/sf0.001"


def _parquet_files(path: str) -> list[str]:
    return sorted(
        os.path.join(d, f)
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def test_compaction_reduces_file_count(spark):
    n_rows = sink_compact_small_files(spark, SF).count()
    frag = _parquet_files(_scratch(spark, "fragmented"))
    compact = _parquet_files(_scratch(spark, "compacted"))
    assert len(frag) == FRAGMENT_FILES
    assert 1 <= len(compact) < len(frag) / 4
    assert n_rows > 0


def test_sorted_layout_files_are_time_disjoint(spark):
    """Every file of the sorted layout must cover a ts range that does not
    overlap any other file's — checked from the parquet footer min/max
    statistics, i.e. exactly what a scan's row-group pruning reads."""
    import pyarrow.parquet as pq

    sink_sorted_layout(spark, SF).count()  # materialize the layout
    ranges = []
    for f in _parquet_files(_scratch(spark, "sorted")):
        md = pq.ParquetFile(f).metadata
        col_idx = next(
            i for i in range(md.num_columns) if md.row_group(0).column(i).path_in_schema == "ts"
        )
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col_idx).statistics
            assert st is not None and st.has_min_max
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) > 1, "expected a multi-file layout"
    ranges.sort()
    for (lo_a, hi_a), (lo_b, hi_b) in zip(ranges, ranges[1:]):
        assert hi_a <= lo_b, f"file ranges overlap: {hi_a} > {lo_b}"


def test_sorted_layout_footer_fast_path_is_live(spark):
    """sink_sorted_layout anchors its range query from _footer_min_ts —
    a metadata-only footer read. Pin that the written layout actually
    serves that path (non-None, equal to the true min), so the 1-row
    scalar-agg fallback in layout.py is provably dead code on the
    supported write path."""
    from pipelinejobs_indexer_spark.plans.layout import _footer_min_ts
    from pipelinejobs_indexer_spark.tables import load_table

    import pyspark.sql.functions as F

    sink_sorted_layout(spark, SF).count()  # materialize the layout
    lo = _footer_min_ts(_scratch(spark, "sorted"), "ts")
    assert lo is not None, "footer stats missing — fallback collect would run"
    true_min = (
        load_table(spark, SF, "events").agg(F.min("ts")).collect()[0][0]
    )
    assert lo == true_min


def test_skew_profile_flags_heavy_hitters(spark):
    rows = agg_key_skew_profile(spark, SF).collect()
    assert rows
    counts = [r.n for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert all(0.0 < r.share < 1.0 for r in rows)
    # only the single heaviest key is guaranteed >= the mean
    assert rows[0].x_mean >= 1.0


def test_partitioned_layout_prunes_partitions(spark):
    """The event_type filter must prune at the DIRECTORY level: the plan
    carries a PartitionFilters entry and the other partitions' files are
    never part of the scan."""
    import contextlib
    import io
    import re

    from pipelinejobs_indexer_spark.plans.layout import sink_partitioned_catalog

    df = sink_partitioned_catalog(spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_type" in m.group(1), plan
    # pushed filter gone from the data filters (it's partition-level now)
    assert df.count() > 0
    # the scan reads only the one partition directory
    scanned = df.select(F.input_file_name().alias("f")).distinct().collect()
    assert scanned and all("event_type=purchase" in r.f for r in scanned)


def test_training_shards_layout_and_order(spark):
    """The materialized training shards must be consumable by a dumb
    sequential loader: one hive directory per shard, one file per shard
    (task/directory partitioning aligned), and rows INSIDE each file
    already in shuffle_key order — the pos column is the file order, not
    a post-hoc sort."""
    import pyarrow.parquet as pq

    from pipelinejobs_indexer_spark.llm.text import N_SHARDS
    from pipelinejobs_indexer_spark.plans.layout import sink_training_shards

    out = sink_training_shards(spark, SF)
    rows = out.collect()
    assert rows, "sample gate should keep documents"
    root = _scratch(spark, "training_shards")
    shard_dirs = sorted(
        d for d in os.listdir(root) if d.startswith("shard=")
    )
    assert len(shard_dirs) == len({r.shard for r in rows})
    assert len(shard_dirs) <= N_SHARDS
    for d in shard_dirs:
        files = _parquet_files(os.path.join(root, d))
        assert len(files) == 1, f"{d}: expected exactly one file, got {files}"
        t = pq.read_table(files[0], columns=["shuffle_key", "doc_id"])
        keys = list(zip(t["shuffle_key"].to_pylist(), t["doc_id"].to_pylist()))
        assert keys == sorted(keys), f"{d}: file rows not in shuffle order"


def test_scratch_path_cleans_up_at_exit(tmp_path):
    """scratch_path must remove every session-prefixed artifact at
    interpreter exit — repeated bench/sweep sessions must not accumulate
    temp-dir data. Run in a subprocess (no JVM: only applicationId and
    the session's tuning are consulted) and check the dir is gone
    afterwards."""
    import subprocess
    import sys as _sys
    import textwrap

    code = textwrap.dedent(
        f"""
        import os, types, tempfile
        tempfile.gettempdir = lambda: {str(tmp_path)!r}
        from pipelinejobs_indexer_spark.session import scratch_path
        fake = types.SimpleNamespace(
            conf=types.SimpleNamespace(set=lambda k, v: None, get=lambda k, d=None: d),
            sparkContext=types.SimpleNamespace(applicationId="scrubtest", environment={{}}),
        )
        p = scratch_path(fake, "artifact")
        os.makedirs(p)
        open(os.path.join(p, "part-0.parquet"), "w").write("x")
        print(p)
        """
    )
    out = subprocess.run(
        [_sys.executable, "-c", code],
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert out.returncode == 0, out.stderr
    made = out.stdout.strip().splitlines()[-1]
    assert made.startswith(str(tmp_path))
    assert not os.path.exists(made), "atexit cleanup did not remove scratch dir"


def test_zorder_layout_skips_on_both_dimensions(spark):
    """S14: the z-ordered copy must expose per-file parquet stats tight
    enough that the 2-dim box query prunes files through EACH pushed
    predicate independently — including the user dimension, which a
    ts-sorted layout can never prune on."""
    import datetime

    import pyarrow.parquet as pq

    from pipelinejobs_indexer_spark.plans.layout import (
        _events_bounds,
        sink_zorder_layout,
    )

    assert sink_zorder_layout(spark, SF).count() > 0
    files = _parquet_files(_scratch(spark, "zorder"))
    assert len(files) > 4, "expected a multi-file z layout"
    umin, umax, tmin, tmax = _events_bounds(spark, SF)
    Z_BOX_USER_LO, Z_BOX_USER_HI = umin, umin + (umax - umin) // 4
    t_lo = datetime.datetime(1970, 1, 1) + datetime.timedelta(microseconds=tmin)
    t_hi = datetime.datetime(1970, 1, 1) + datetime.timedelta(
        microseconds=tmin + (tmax - tmin) // 4
    )
    user_hits, ts_hits, both = 0, 0, 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        names = {md.row_group(0).column(i).path_in_schema: i
                 for i in range(md.num_columns)}
        u_ok, t_ok = False, False
        for rg in range(md.num_row_groups):
            us = md.row_group(rg).column(names["user_id"]).statistics
            tss = md.row_group(rg).column(names["ts"]).statistics
            if us.min <= Z_BOX_USER_HI and us.max >= Z_BOX_USER_LO:
                u_ok = True
            if tss.min < t_hi and tss.max >= t_lo:
                t_ok = True
        user_hits += u_ok
        ts_hits += t_ok
        both += u_ok and t_ok
    n = len(files)
    assert user_hits < n, "no user-dimension skipping — z interleave broken"
    assert ts_hits < n, "no time-dimension skipping"
    # the 2-dim box must prune strictly beyond the WEAKER single
    # predicate: candidate files for the conjunction < the larger
    # single-dimension candidate set (both <= min holds trivially)
    assert both < max(user_hits, ts_hits), (both, user_hits, ts_hits)


def test_z_interleave_is_bijective_and_monotone():
    """The z-value arithmetic must be an exact bit interleave: reversible
    (distinct (ub,tb) -> distinct z) and bit-faithful, else per-file z
    ranges stop implying per-dimension ranges."""
    import random

    from pipelinejobs_indexer_spark.plans.layout import Z_BITS, _z_terms

    expr = _z_terms("//")  # python // == SQL div for non-negative ints

    def z(ub, tb):
        return eval(expr, {}, {"ub": ub, "tb": tb})

    rng = random.Random(11)
    seen = {}
    for _ in range(500):
        ub = rng.randrange(1 << Z_BITS)
        tb = rng.randrange(1 << Z_BITS)
        v = z(ub, tb)
        # exact bit interleave: even bits = ub, odd bits = tb
        back_ub = sum(((v >> (2 * i)) & 1) << i for i in range(Z_BITS))
        back_tb = sum(((v >> (2 * i + 1)) & 1) << i for i in range(Z_BITS))
        assert (back_ub, back_tb) == (ub, tb)
        assert seen.setdefault(v, (ub, tb)) == (ub, tb)
