"""End-to-end parity of the flagship spatial join vs the brute-force golden
oracles (SURVEY.md §5 items 2/5; north_star: identical join output rows and
tile-to-cell assignments per url)."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def engine(spark, sf_smoke):
    from libosmtools_spark.pipeline import SpatialEngine

    return SpatialEngine.from_fixtures(spark, sf_smoke)


@pytest.fixture(scope="module")
def pages(spark, sf_smoke):
    return spark.read.parquet(os.path.join(sf_smoke, "pages.parquet")).cache()


def _sorted_records(pdf, key):
    return pdf.sort_values(key).reset_index(drop=True)


class TestColumnKernelParity:
    def test_cell_key_col_matches_numpy(self, spark):
        import numpy as np

        from libosmtools_spark.geom import kernels as K
        from libosmtools_spark.geom.columns import cell_key_col

        rng = np.random.default_rng(5)
        lat = K.snap(rng.uniform(-90, 90, 2000))
        lon = K.snap(rng.uniform(-180, 180, 2000))
        pdf = pd.DataFrame({"lat": lat, "lon": lon})
        for level in (0, 4, 6, 12):
            got = (
                spark.createDataFrame(pdf)
                .select(cell_key_col(F.col("lat"), F.col("lon"), level).alias("k"))
                .toPandas()["k"]
                .to_numpy()
            )
            want = K.cell_key(lat, lon, level)
            assert (got == want).all(), f"level {level}"

    def test_cell_key_sql_matches_in_duckdb(self, spark):
        import duckdb
        import numpy as np

        from libosmtools_spark.geom import kernels as K
        from libosmtools_spark.geom.columns import cell_key_sql

        rng = np.random.default_rng(6)
        lat = K.snap(rng.uniform(-90, 90, 2000))
        lon = K.snap(rng.uniform(-180, 180, 2000))
        df = pd.DataFrame({"lat": lat, "lon": lon})  # noqa: F841 (used via duckdb scan)
        got = duckdb.sql(
            f"select {cell_key_sql('lat', 'lon', 6)} as k from df"
        ).df()["k"].to_numpy()
        assert (got == K.cell_key(lat, lon, 6)).all()


class TestPageRegionsParity:
    def test_region_sets_match_golden(self, engine, pages, sf_smoke, spark):
        got = engine.page_regions(pages).toPandas()
        want = spark.read.parquet(os.path.join(sf_smoke, "golden_page_regions.parquet")).toPandas()
        got["region_ids"] = got["region_ids"].map(lambda a: tuple(a))
        want["region_ids"] = want["region_ids"].map(lambda a: tuple(a))
        g = _sorted_records(got, "url")
        w = _sorted_records(want, "url")
        pd.testing.assert_frame_equal(g, w)

    def test_every_page_has_a_row(self, engine, pages):
        assert engine.page_regions(pages).count() == pages.count()

    def test_byte_identical_text(self, engine, pages):
        """input_hint invariant: text passes through untouched."""
        out = engine.page_points(pages).select("url", "text")
        diff = out.join(pages.select("url", F.col("text").alias("t0")), "url").filter(
            F.col("text") != F.col("t0")
        )
        assert diff.count() == 0

    def test_flagship_from_html_extraction(self, engine, pages):
        """The north-star's actual input path: geocode pages from text
        EXTRACTED from the html binary.  Extraction must be byte-identical
        to the stored text on every row, and the join output over the
        html-derived frame must equal the join output over the original."""
        from libosmtools_spark.pipeline import pages_from_html

        extracted = pages_from_html(pages)
        bad = (
            extracted.select("url", "text")
            .join(pages.select("url", F.col("text").alias("t0")), "url")
            .filter(F.col("text") != F.col("t0"))
        )
        assert bad.count() == 0
        a = engine.page_regions(extracted).withColumn(
            "region_ids", F.col("region_ids").cast("array<long>")
        )
        b = engine.page_regions(pages).withColumn(
            "region_ids", F.col("region_ids").cast("array<long>")
        )
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


class TestCellsParity:
    def test_cells_dictionary_matches_golden(self, engine, pages, sf_smoke, spark):
        got = engine.cells(pages).toPandas()
        want = spark.read.parquet(os.path.join(sf_smoke, "golden_cells.parquet")).toPandas()
        got["region_ids"] = got["region_ids"].map(lambda a: tuple(a))
        want["region_ids"] = want["region_ids"].map(lambda a: tuple(int(x) for x in a))
        pd.testing.assert_frame_equal(
            _sorted_records(got, "cell_key"),
            _sorted_records(want, "cell_key"),
            check_dtype=False,
        )

    def test_page_cells_match_golden(self, engine, pages, sf_smoke, spark):
        got = engine.page_cells(pages).toPandas()
        want = spark.read.parquet(os.path.join(sf_smoke, "golden_page_cells.parquet")).toPandas()
        pd.testing.assert_frame_equal(
            _sorted_records(got, "url"), _sorted_records(want, "url"), check_dtype=False
        )


class TestInvariants:
    """Spark translation of selfTest()
    (/root/reference/src/OsmTriangulationRegionStore.cpp:1227-1281)."""

    def test_cell_id_space_gap_free(self, engine, pages):
        cells = engine.cells(pages).toPandas()
        nonzero = sorted(cells.loc[cells.cell_id > 0, "cell_id"].unique())
        assert nonzero == list(range(1, len(nonzero) + 1))

    def test_empty_set_iff_cell_zero(self, engine, pages):
        cells = engine.cells(pages).toPandas()
        for _, row in cells.iterrows():
            assert (len(row["region_ids"]) == 0) == (row["cell_id"] == 0)

    def test_cellid_regionset_bijection(self, engine, pages):
        cells = engine.cells(pages).toPandas()
        cells["k"] = cells["region_ids"].map(lambda a: tuple(a))
        grp = cells.groupby("cell_id")["k"].nunique()
        assert (grp == 1).all()
        grp2 = cells.groupby("k")["cell_id"].nunique()
        assert (grp2 == 1).all()

    def test_region_lists_sorted_strictly_ascending(self, engine, pages):
        cells = engine.cells(pages).toPandas()
        for ids in cells["region_ids"]:
            assert list(ids) == sorted(set(ids))

    def test_selftest_violations_all_zero(self, engine, pages, spark):
        """The relational T21 suite (run.selftest.selftest_violations, the
        driver's selftest_invariants query) reports zero violations on a
        healthy store."""
        from libosmtools_spark.run.selftest import selftest_violations

        out = selftest_violations(engine.cells(pages)).toPandas()
        assert set(out["check_name"]) == {
            "cell_ids_dense", "cell_key_unique", "empty_set_iff_cell0",
            "region_ids_sorted_distinct", "set_id_bijection",
        }
        assert (out["n_violations"] == 0).all()

    def test_selftest_catches_corruption(self, spark):
        """Non-vacuous: each class of corruption flips its check."""
        from libosmtools_spark.run.selftest import selftest_violations

        schema = "cell_key long, cell_id long, region_ids array<int>"
        # gap in ids (3 skipped), duplicate key, cell0 with regions,
        # unsorted list, one set under two ids
        bad = spark.createDataFrame(
            [
                (1, 1, [5]),
                (2, 2, [7, 5]),      # unsorted
                (2, 4, [5]),         # dup key; id 4 shares set [5] with id 1; gap: no 3
                (3, 0, [9]),         # cell 0 with a region set
            ],
            schema,
        )
        got = selftest_violations(bad).toPandas().set_index("check_name")["n_violations"]
        assert got["cell_ids_dense"] == 1
        assert got["cell_key_unique"] == 1
        assert got["empty_set_iff_cell0"] == 1
        assert got["region_ids_sorted_distinct"] == 1
        assert got["set_id_bijection"] >= 1

    def test_selftest_point_consistency(self, spark):
        from libosmtools_spark.run.selftest import selftest_violations

        cells = spark.createDataFrame(
            [(10, 1, [5]), (11, 2, [6])], "cell_key long, cell_id long, region_ids array<int>"
        )
        pts = spark.createDataFrame(
            [(10, 1), (11, 2), (99, 0), (10, 2)], "cell_key long, cell_id long"
        )  # last row disagrees with the dictionary
        out = selftest_violations(cells, pts).toPandas().set_index("check_name")
        assert out.loc["points_match_dict", "n_violations"] == 1


class TestFlagshipMapParity:
    def test_map_join_equals_shuffle_flagship(self, engine, pages):
        """Zero-shuffle flagship_map ≡ shuffle flagship, row for row."""
        a = engine.flagship(pages).toPandas()
        b = engine.flagship_map(pages).toPandas()
        for df in (a, b):
            df["region_ids"] = df["region_ids"].map(lambda x: tuple(int(i) for i in x))
        a = a.sort_values("url").reset_index(drop=True)
        b = b.sort_values("url").reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b, check_dtype=False)

    def test_map_join_null_cellkey_shares_batch(self, engine, pages, spark):
        """Regression: a geocode-less page (NULL cell_key) in the SAME Arrow
        batch as valid pages must not corrupt the batch.  Before the -1
        sentinel fix, one NULL made pandas deliver cell_key as float64;
        level-6 keys exceed float64's 53-bit integer range, so every key in
        the batch rounded and the whole batch lost its region sets."""
        no_geo = spark.createDataFrame(
            [("page://no-geocode", None, None, "no coordinates in this text", None)],
            pages.schema,
        )
        mixed = pages.unionByName(no_geo).coalesce(1)  # ONE partition → one batch
        got = engine.flagship_map(mixed).toPandas().set_index("url")
        want = engine.flagship(mixed).toPandas().set_index("url")
        assert len(got) == len(want)
        for url in want.index:
            assert list(got.loc[url, "region_ids"]) == list(want.loc[url, "region_ids"]), url
            g_key, w_key = got.loc[url, "cell_key"], want.loc[url, "cell_key"]
            assert (pd.isna(g_key) and pd.isna(w_key)) or g_key == w_key, url
        assert list(got.loc["page://no-geocode", "region_ids"]) == []
        assert pd.isna(got.loc["page://no-geocode", "cell_key"])

    def test_map_join_matches_golden(self, engine, pages, sf_smoke, spark):
        got = engine.flagship_map(pages).select("url", "region_ids").toPandas()
        want = spark.read.parquet(os.path.join(sf_smoke, "golden_page_regions.parquet")).toPandas()
        got["region_ids"] = got["region_ids"].map(lambda a: tuple(int(x) for x in a))
        want["region_ids"] = want["region_ids"].map(lambda a: tuple(int(x) for x in a))
        g = _sorted_records(got, "url")
        w = _sorted_records(want, "url")
        pd.testing.assert_frame_equal(g, w, check_dtype=False)

    def test_dictionary_gather_bounded_by_distinct_cells(self, engine, pages, spark):
        """The single-task dictionary build sees each distinct cell key
        once, however many Arrow batches the fact pass emits: with one row
        per batch (many more batches than occupied cells) the rows entering
        the repartition(1) gather stay within distinct keys + the NULL key,
        read from the executed plan's shuffle metrics."""
        conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
        old = spark.conf.get(conf)
        spark.conf.set(conf, "1")
        try:
            out = engine.flagship_map(pages)
            rows = out.collect()
        finally:
            spark.conf.set(conf, old)
        n_keys = len({r["cell_key"] for r in rows if r["cell_key"] is not None})
        assert len(rows) > 4 * (n_keys + 1)  # batches ≫ distinct cells
        gathers = [
            n.metrics().apply("shuffleRecordsWritten").value()
            for n in _physical_operators(out._jdf.queryExecution().executedPlan())
            if n.getClass().getSimpleName() == "ShuffleExchangeExec"
            and n.outputPartitioning().numPartitions() == 1
        ]
        assert len(gathers) == 1
        assert 0 < gathers[0] <= n_keys + 1


def _physical_operators(node):
    """Every operator of an executed physical plan (py4j), descending into
    adaptive plans and their materialized query stages."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _physical_operators(node.executedPlan())
        return
    yield node
    if name.endswith("QueryStageExec"):
        yield from _physical_operators(node.plan())
    kids = node.children()
    for i in range(kids.size()):
        yield from _physical_operators(kids.apply(i))


class TestRoundTrip:
    def test_write_read_back_identical(self, engine, pages, tmp_path, spark):
        out = engine.page_cells(pages)
        path = str(tmp_path / "page_cells.parquet")
        out.write.mode("overwrite").parquet(path)
        back = spark.read.parquet(path)
        assert back.exceptAll(out).count() == 0
        assert out.exceptAll(back).count() == 0


if __name__ == "__main__":
    import sys

    sys.exit(pytest.main([__file__, "-x", "-q"]))
