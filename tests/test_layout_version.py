"""One on-disk layout per index tier: every meta writer stamps
``layout_version`` and every meta reader refuses an index without it —
so the meta read, append, search/pairs and delete entry points of each
tier form all fail with the same rebuild message on an unstamped
index, and the options that used to create other layouts are gone."""

import glob
import json
import os

import numpy as np
import pytest

from etl_apache_kafka_python_doker_aws_spark.functions import (
    ann_index as ai,
    dedup_index as di,
    exact_index as xi,
    index_store,
)
from etl_apache_kafka_python_doker_aws_spark.util import tiny_rows_df

REBUILD = (
    f"layout_version {{}}, but only layout_version {index_store.LAYOUT_VERSION} "
    "is readable.*rebuild the index from source"
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "pack my box with five dozen liquor jugs"),
    (3, "sphinx of black quartz judge my vow"),
    (101, "the quick brown fox jumps over the lazy dog"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _vecs(spark, ids):
    rng = np.random.RandomState(7)
    rows = [(i, rng.randn(16).astype(float).tolist()) for i in ids]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _unstamp_json_meta(path, stamp=None):
    """Rewrite a path tier's JSON meta row without ``layout_version``,
    or with ``stamp`` as it (and drop the .crc sidecars a hand edit
    would invalidate)."""
    meta_dir = os.path.join(path, "_graft_meta")
    for f in glob.glob(os.path.join(meta_dir, "*.json")):
        with open(f) as fh:
            rows = [json.loads(line) for line in fh if line.strip()]
        with open(f, "w") as fh:
            for row in rows:
                row.pop("layout_version")
                if stamp is not None:
                    row["layout_version"] = stamp
                fh.write(json.dumps(row) + "\n")
    for crc in glob.glob(os.path.join(meta_dir, ".*.crc")):
        os.remove(crc)


def _unstamp_table_meta(spark, table):
    row = spark.table(f"{table}_meta").first().asDict()
    row.pop("layout_version")
    index_store._drop_table_and_location(spark, f"{table}_meta")
    tiny_rows_df(spark, [row]).write.saveAsTable(f"{table}_meta")


def _ann(spark, tmp_path):
    path = str(tmp_path / "ann")
    ai.ann_index_build(_vecs(spark, range(40)), "vec_id", "embedding", path,
                       dim=16, n_cells=2, n_subspaces=4, n_centroids=4,
                       vec_buckets=4)
    _unstamp_json_meta(path)
    batch = _vecs(spark, [1000])
    return {
        "meta": lambda: ai.ann_index_meta(spark, path),
        "append": lambda: ai.ann_index_append(
            batch, "vec_id", "embedding", path, batch_id="b1"),
        "search": lambda: ai.ann_index_search(batch, path, k=3),
        "delete": lambda: ai.ann_index_delete(spark, path, [1]),
        "rebuild": lambda: ai.ann_index_rebuild(
            spark, path, str(tmp_path / "ann2")),
    }, None


def _band_path(spark, tmp_path, stamp=None):
    path = str(tmp_path / "band")
    di.minhash_index_append(_docs(spark), "doc_id", "text", path,
                            batch_id="b0")
    _unstamp_json_meta(path, stamp)
    return {
        "meta": lambda: di.minhash_index_meta(spark, path),
        "append": lambda: di.minhash_index_append(
            _docs(spark), "doc_id", "text", path, batch_id="b1"),
        "pairs": lambda: di.minhash_index_pairs_vs_batch(spark, path, "b0"),
        "delete": lambda: di.minhash_index_delete(spark, path, [1]),
        "compact": lambda: di.minhash_index_compact(spark, path),
    }, None


def _band_path_v1(spark, tmp_path):
    """A band path index stamped with the retired layout 1 (the
    ``band_idx=*/_bgroup=*`` layout) — refused, never misread."""
    return _band_path(spark, tmp_path, stamp=1)


def _band_table(spark, tmp_path):
    t = "t_layout_band"
    di.drop_minhash_table(spark, t)
    di.minhash_table_append(_docs(spark), "doc_id", "text", t,
                            batch_id="b0", buckets=4)
    _unstamp_table_meta(spark, t)
    return {
        "meta": lambda: di.minhash_table_meta(spark, t),
        "append": lambda: di.minhash_table_append(
            _docs(spark), "doc_id", "text", t, batch_id="b1", buckets=4),
        "pairs": lambda: di.minhash_table_pairs_vs_batch(spark, t, "b0"),
        "delete": lambda: di.minhash_table_delete(spark, t, [1]),
    }, lambda: di.drop_minhash_table(spark, t)


def _sha_table(spark, tmp_path):
    t = "t_layout_sha"
    xi.drop_sha_table(spark, t)
    xi.sha_table_append(_docs(spark), "doc_id", "text", t, batch_id="b0",
                        buckets=4)
    _unstamp_table_meta(spark, t)
    return {
        "meta": lambda: xi.sha_table_meta(spark, t),
        "append": lambda: xi.sha_table_append(
            _docs(spark), "doc_id", "text", t, batch_id="b1", buckets=4),
        "dedup": lambda: xi.sha_table_dedup_batch(spark, t, "b0"),
        "delete": lambda: xi.sha_table_delete(spark, t, [1]),
    }, lambda: xi.drop_sha_table(spark, t)


@pytest.mark.parametrize(
    "tier", [_ann, _band_path, _band_table, _sha_table, _band_path_v1],
    ids=["ann", "band_path", "band_table", "sha_table", "band_path_v1"],
)
def test_unstamped_meta_is_refused_by_every_entry_point(spark, tmp_path, tier):
    ops, cleanup = tier(spark, tmp_path)
    stamp = 1 if tier is _band_path_v1 else None
    try:
        for name, op in ops.items():
            with pytest.raises(ValueError, match=REBUILD.format(stamp)):
                op()
    finally:
        if cleanup:
            cleanup()


def test_stamp_is_written_and_legacy_layout_options_are_rejected(
    spark, tmp_path
):
    path = str(tmp_path / "band")
    with pytest.raises(TypeError, match="bgroups"):
        di.minhash_index_append(_docs(spark), "doc_id", "text", path,
                                batch_id="b0", bgroups=4)
    with pytest.raises(ValueError, match="vec_buckets None"):
        ai.ann_index_build(_vecs(spark, range(8)), "vec_id", "embedding",
                           str(tmp_path / "ann"), dim=16, vec_buckets=None)
    di.minhash_index_append(_docs(spark), "doc_id", "text", path,
                            batch_id="b0")
    (meta_file,) = glob.glob(os.path.join(path, "_graft_meta", "*.json"))
    with open(meta_file) as fh:
        assert json.loads(fh.readline())["layout_version"] == index_store.LAYOUT_VERSION
