"""tools/make_scale_corpus.py: the replica token remap and the up-front
check for missing key-stride authorities."""

from __future__ import annotations

import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tools import make_scale_corpus as msc


def test_remap_text_prefixes_every_whitespace_token():
    text = "alpha  beta\tgamma\ndelta "
    out = msc._remap_text(text, 1)
    assert out == "qbqalpha  qbqbeta\tqbqgamma\nqbqdelta "
    assert out.split() == ["qbq" + t for t in text.split()]
    assert msc._remap_text(None, 3) is None


def test_missing_stride_authority_is_named(tmp_path, monkeypatch):
    """orders offsets o_custkey by customer's stride: without a customer
    table the run stops up front and names the missing authority."""
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(pa.table({"o_orderkey": [1, 2], "o_custkey": [5, 6]}),
                   src / "orders.parquet")
    monkeypatch.setattr(sys, "argv", [
        "make_scale_corpus.py", "--src", str(src), "--replicas", "2",
        "--out", str(tmp_path / "out")])
    with pytest.raises(SystemExit, match="customer:c_custkey"):
        msc.main()
