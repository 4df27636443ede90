"""streaming/ckpt.py::offsets_cursor — the drain-loop progress cursor.

Pure-filesystem unit cases (no SparkSession): the cursor must change
when EITHER the offsets log (new batch planned) or the commits log
(uncommitted batch re-finished) advances, and only then — the two
failure modes the streaming integration test pins end-to-end
(tests/test_streaming_views.py::test_uncommitted_batch_plus_new_data_drains_fully).
"""

import os

import pytest

from cdm_cbioportal_etl_spark.streaming.ckpt import offsets_cursor


def _mk(ck, sub, name, content=""):
    d = os.path.join(ck, sub)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, name), "w") as fh:
        fh.write(content)


def test_no_checkpoint_dir_is_none(tmp_path):
    assert offsets_cursor(str(tmp_path / "missing")) is None


def test_empty_logs_are_none(tmp_path):
    ck = str(tmp_path)
    os.makedirs(os.path.join(ck, "offsets"))
    assert offsets_cursor(ck) is None


def test_new_offsets_batch_advances_cursor(tmp_path):
    ck = str(tmp_path)
    _mk(ck, "offsets", "0", "v1\n{\"version\": 3}")
    c0 = offsets_cursor(ck)
    assert c0 is not None
    _mk(ck, "offsets", "1", "v1\n{\"version\": 5}")
    assert offsets_cursor(ck) != c0


def test_commit_of_uncommitted_batch_advances_cursor(tmp_path):
    # crash shape: offsets/0 exists, commits empty — re-finishing the
    # batch writes commits/0 WITHOUT a new offsets file
    ck = str(tmp_path)
    _mk(ck, "offsets", "0", "v1\n{\"version\": 3}")
    c0 = offsets_cursor(ck)
    _mk(ck, "commits", "0", "v1\n{}")
    c1 = offsets_cursor(ck)
    assert c1 != c0
    # nothing further -> stable (the loop's break condition)
    assert offsets_cursor(ck) == c1


def test_same_batch_id_different_offset_content_differs(tmp_path):
    ck = str(tmp_path)
    _mk(ck, "offsets", "0", "v1\n{\"version\": 3}")
    c0 = offsets_cursor(ck)
    _mk(ck, "offsets", "0", "v1\n{\"version\": 9}")
    assert offsets_cursor(ck) != c0


def test_numeric_ordering_not_lexicographic(tmp_path):
    ck = str(tmp_path)
    for i in (0, 2, 10):  # lexicographic max would be "2"
        _mk(ck, "offsets", str(i), f"o{i}")
    assert offsets_cursor(ck).startswith("10:o10")


def test_file_uri_reads_the_same_checkpoint(tmp_path):
    ck = str(tmp_path)
    _mk(ck, "offsets", "0", "v1\n{\"version\": 3}")
    _mk(ck, "commits", "0")
    c = offsets_cursor(ck)
    assert c is not None
    assert offsets_cursor(tmp_path.as_uri()) == c  # file:///...
    assert offsets_cursor("file:" + ck) == c  # file:/...


def test_non_local_checkpoint_warns():
    with pytest.warns(RuntimeWarning, match="not on the local filesystem"):
        assert offsets_cursor("s3a://bucket/ckpt") is None
