"""The same seed gives the same inputs; another seed gives other inputs."""

from __future__ import annotations

import os

import pytest

import inputs
from workloads import KINDS, request_rounds


def test_request_rounds_are_a_function_of_the_seed():
    a = request_rounds(7, 100, 200)
    assert a == request_rounds(7, 100, 200)
    assert a != request_rounds(8, 100, 200)
    # every round holds each kind once
    assert all(sorted(r["kind"] for r in rnd) == sorted(KINDS) for rnd in a)


def _warehouse_hash(out_dir: str, seed: int) -> str:
    paths = inputs.write_warehouse(out_dir, 0.001, seed)
    return inputs.content_hash([paths[t] for t in sorted(paths)])


def test_warehouse_content_is_a_function_of_the_seed(tmp_path):
    h = _warehouse_hash(str(tmp_path / "a"), 3)
    assert h == _warehouse_hash(str(tmp_path / "b"), 3)
    assert h != _warehouse_hash(str(tmp_path / "c"), 4)


@pytest.fixture(scope="module")
def generator_spark(tmp_path_factory):
    from jvm import start_session, stop_jvm

    spark = start_session(str(tmp_path_factory.mktemp("work")))
    yield spark
    stop_jvm()


def _csv_hash(spark, out_dir: str, seed: int) -> str:
    paths = inputs.write_supplier_domain_csvs(spark, out_dir, 2_000, 50, seed)
    return inputs.content_hash(
        [f for name in sorted(paths) for f in inputs.part_files(paths[name])]
    )


def test_supplier_csv_content_is_a_function_of_the_seed(generator_spark, tmp_path):
    h = _csv_hash(generator_spark, str(tmp_path / "a"), 5)
    assert h == _csv_hash(generator_spark, str(tmp_path / "b"), 5)
    assert h != _csv_hash(generator_spark, str(tmp_path / "c"), 6)
    assert os.path.isdir(tmp_path / "a" / "purchase_orders")
