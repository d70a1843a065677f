"""Generation-pointer state table: crash-point and replay semantics.

The OHLC candle state is the vehicle (smallest merge_fn); the
protocol under test is streaming/state_table.py itself.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from starknet_indexer_spark.catalog import load
from starknet_indexer_spark.operators.timeseries import ohlc_candles
from starknet_indexer_spark.streaming import ohlc, state_table

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(map(str, df.collect()))


def _halves(spark):
    ev = load(spark, SF, "events")
    return ev, ev.filter(F.col("event_id") % 2 == 0), ev.filter(
        F.col("event_id") % 2 == 1
    )


class TestCrashPoints:
    def test_half_built_generation_is_discarded_and_replay_lands_clean(
        self, spark, tmp_path
    ):
        """Crash DURING the next generation's build: CURRENT still
        points at the old generation, so the replay re-merges against
        intact state and the orphan dir is removed."""
        ev, first, second = _halves(spark)
        state = str(tmp_path / "s")
        ohlc.apply_batch(spark, first, state, epoch_token="ns:0")
        gen0 = state_table.current_gen(state)
        # simulate: a crashed attempt left a half-built higher gen
        orphan = os.path.join(state, f"gen-{gen0 + 1}")
        os.makedirs(os.path.join(orphan, "bucket=0"), exist_ok=True)
        with open(os.path.join(orphan, "junk"), "w") as f:
            f.write("partial")
        ohlc.apply_batch(spark, second, state, epoch_token="ns:1")
        assert _rows(ohlc.read_state(spark, state)) == _rows(ohlc_candles(ev))
        # the orphan generation number was rebuilt (or removed), never served
        assert state_table.current_gen(state) == gen0 + 1

    def test_replay_after_flip_but_before_marker_short_circuits(
        self, spark, tmp_path
    ):
        """Crash between the CURRENT flip and the caller's epoch
        marker: the token committed inside the generation makes the
        redelivered epoch a no-op instead of a double-count."""
        ev, first, second = _halves(spark)
        state = str(tmp_path / "s")
        ohlc.apply_batch(spark, first, state, epoch_token="ns:0")
        ohlc.apply_batch(spark, second, state, epoch_token="ns:1")
        want = _rows(ohlc.read_state(spark, state))
        ohlc.apply_batch(spark, second, state, epoch_token="ns:1")  # replay
        assert _rows(ohlc.read_state(spark, state)) == want
        # volume/n_events would have doubled on a real double-apply
        assert state_table.applied_token(state) == "ns:1"

    def test_gc_keeps_one_grace_generation_and_cleans_beyond(
        self, spark, tmp_path
    ):
        """The immediately superseded generation survives one commit
        (reader grace window); anything older is reclaimed."""
        ev, first, second = _halves(spark)
        state = str(tmp_path / "s")
        ohlc.apply_batch(spark, first, state)
        ohlc.apply_batch(spark, second, state)
        cur = state_table.current_gen(state)
        grace = os.path.join(state, f"gen-{cur - 1}")
        assert os.path.isdir(grace)  # kept for lazy readers
        # simulate: GC beyond the grace window was interrupted
        stale = os.path.join(state, f"gen-{cur - 2}")
        os.makedirs(os.path.join(stale, "bucket=3"), exist_ok=True)
        state_table.recover(state)
        assert not os.path.isdir(stale)
        assert os.path.isdir(grace)
        assert _rows(ohlc.read_state(spark, state)) == _rows(ohlc_candles(ev))

    def test_reader_survives_one_concurrent_commit(self, spark, tmp_path):
        """A lazy DataFrame resolved against CURRENT before a commit
        still collects correctly afterward — the grace window keeps its
        generation on disk."""
        ev, first, second = _halves(spark)
        state = str(tmp_path / "s")
        ohlc.apply_batch(spark, first, state)
        lazy = ohlc.read_state(spark, state)  # resolves gen-0 path
        ohlc.apply_batch(spark, second, state)  # commit gen-1
        # the reader's plan still scans gen-0, which the grace window kept
        from starknet_indexer_spark.operators.timeseries import ohlc_candles as bc

        assert _rows(lazy) == _rows(bc(first))

    def test_corrupt_pointer_raises_instead_of_wiping(self, spark, tmp_path):
        import pytest

        ev, first, _second = _halves(spark)
        state = str(tmp_path / "s")
        ohlc.apply_batch(spark, first, state)
        with open(os.path.join(state, "CURRENT"), "w") as f:
            f.write("")  # truncated by a power loss (pre-fsync era)
        with pytest.raises(RuntimeError, match="corrupt"):
            state_table.current_gen(state)
        # and crucially: recover() was never reached, generations intact
        assert any(e.startswith("gen-") for e in os.listdir(state))

    def test_legacy_layout_refused_loudly(self, spark, tmp_path):
        import pytest

        state = str(tmp_path / "legacy")
        os.makedirs(os.path.join(state, "bucket=0"), exist_ok=True)
        with pytest.raises(RuntimeError, match="pre-generation-layout"):
            state_table.current_gen(state)

    def test_reader_is_never_torn_by_a_writer_in_progress(self, spark, tmp_path):
        """A reader resolving CURRENT mid-build sees the complete old
        generation — the new one is invisible until the flip."""
        ev, first, second = _halves(spark)
        state = str(tmp_path / "s")
        ohlc.apply_batch(spark, first, state)
        before = _rows(ohlc.read_state(spark, state))
        gen = state_table.current_gen(state)
        # writer starts building gen+1 (not flipped)
        building = os.path.join(state, f"gen-{gen + 1}")
        shutil.copytree(state_table.current_gen_dir(state), building)
        assert _rows(ohlc.read_state(spark, state)) == before


def test_epoch_pairs_encoding_is_injective_and_migrates_legacy(spark, tmp_path):
    """ADVICE r10 + code-review r11: distinct epoch tokens must land in
    distinct subdirs (the old ':'/'=' -> '-' map collided them), and a
    replay of an epoch whose pairs were written under the PRE-percent-
    encoding scheme must supersede the legacy dir, not duplicate it."""
    pairs = str(tmp_path / "pairs")
    one = spark.createDataFrame([(1, 2)], "a_id long, b_id long")
    two = spark.createDataFrame([(3, 4)], "a_id long, b_id long")
    # collision-prone pair of tokens under the old scheme
    state_table.write_epoch_pairs(one, pairs, "ns:0")
    state_table.write_epoch_pairs(two, pairs, "ns=0")
    got = sorted(map(str, spark.read.parquet(pairs).select("a_id", "b_id").collect()))
    assert len(got) == 2  # both epochs' pairs visible, no overwrite
    # legacy-dir migration: simulate a pre-upgrade write of epoch ns:7
    legacy_dir = os.path.join(pairs, "epoch=ns-7")
    one.write.mode("overwrite").parquet(legacy_dir)
    state_table.write_epoch_pairs(two, pairs, "ns:7")  # the upgrade replay
    assert not os.path.isdir(legacy_dir)
    ep7 = spark.read.parquet(pairs).where("a_id = 3").count()
    assert ep7 == 2  # ns=0 and ns:7 rows; the legacy ns:7 copy is gone


def test_stream_maintain_with_empty_feed_raises_contract_error(spark, tmp_path):
    """Code-review r11 (generalizing ADVICE r10): schema inference from
    an empty feed dir must fail as a clear contract error in the SHARED
    stream driver, not an opaque AnalysisException per caller."""
    import pytest

    with pytest.raises(RuntimeError, match="cannot infer the feed schema"):
        state_table.stream_maintain_with(
            spark,
            str(tmp_path / "missing_feed"),
            str(tmp_path / "state"),
            str(tmp_path / "ck"),
            lambda df, tok: None,
        )


def test_retention_widens_the_gc_grace_window(spark, tmp_path):
    """retention=N keeps the N most recently superseded generations on
    disk across commits (lazy readers up to N flips behind stay safe),
    and LOWERING retention sweeps the now-out-of-window ones."""
    import os

    from starknet_indexer_spark.streaming import state_table as st

    d = str(tmp_path / "state")
    ddl = "k bigint, v bigint"

    def commit(i, retention):
        merged = spark.createDataFrame([(i, i)], ddl).withColumn(
            "bucket", F.lit(0)
        )
        st.commit_generation(d, merged, affected=[0], retention=retention)

    for i in range(4):
        commit(i, retention=3)
    gens = sorted(e for e in os.listdir(d) if e.startswith("gen-"))
    assert gens == ["gen-0", "gen-1", "gen-2", "gen-3"]
    # a 5th commit pushes gen-0 out of the 3-generation window
    commit(4, retention=3)
    gens = sorted(e for e in os.listdir(d) if e.startswith("gen-"))
    assert gens == ["gen-1", "gen-2", "gen-3", "gen-4"]
    # lowering retention back to 1 sweeps everything below the window
    commit(5, retention=1)
    gens = sorted(e for e in os.listdir(d) if e.startswith("gen-"))
    assert gens == ["gen-4", "gen-5"]
    # state content is the live generation's, regardless of retention
    got = st.read_state(spark, d, ddl).select("k", "v").collect()
    assert [(r["k"], r["v"]) for r in got] == [(5, 5)]


def streaming_ddls() -> dict[str, str]:
    """Every ``*_DDL`` string constant in ``streaming/``, by
    ``module.NAME``."""
    import importlib
    import pkgutil

    from starknet_indexer_spark import streaming

    ddls = {}
    for mod in pkgutil.iter_modules(streaming.__path__):
        m = importlib.import_module(f"{streaming.__name__}.{mod.name}")
        for attr, val in vars(m).items():
            if attr.endswith("_DDL") and isinstance(val, str):
                ddls[f"{mod.name}.{attr}"] = val
    return ddls


def test_state_ddls_parse_without_a_dataframe(spark):
    """``merge_batch`` parses its state DDL with ``StructType.fromDDL``
    instead of building an empty DataFrame for its schema: every state
    DDL in ``streaming/``, bare and with the ``bucket`` column the
    writer appends, parses to the same StructType both ways."""
    from pyspark.sql.types import StructType

    ddls = streaming_ddls()
    assert len(ddls) >= 23, sorted(ddls)
    for name, ddl in ddls.items():
        for d in (ddl, ddl + ", bucket int"):
            assert StructType.fromDDL(d) == spark.createDataFrame([], d).schema, name
