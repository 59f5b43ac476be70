"""Attribution of one traced operation's wall time to layers."""

import pytest

from hkbench import layers


def test_attribution_adds_up_to_the_operation_wall_time():
    driver = [
        {"id": 1, "parent": None, "name": "op", "t0": 0.0, "t1": 10.0},
        {"id": 2, "parent": 1, "name": "plan", "t0": 0.5, "t1": 1.0},
        {"id": 3, "parent": 1, "name": "kernel.merge", "t0": 8.0, "t1": 9.0},
    ]
    # one partial-build stage: 4 tasks on 4 cores, 24 s of task time
    stages = [{"stage": 5, "t0": 2.0, "t1": 8.0, "tasks": 4, "run_s": 16.0}]
    workers = [
        {"id": "w-1", "parent": None, "name": "kernel.add", "stage": 5, "t0": 2.0, "t1": 6.0},
        {"id": "w-2", "parent": "w-1", "name": "kernel.hash", "stage": 5, "t0": 3.0, "t1": 4.0},
    ]
    rows = layers.attribute(driver, workers, stages, cores=4)
    assert sum(rows.values()) == pytest.approx(10.0)
    assert rows["plan"] == pytest.approx(0.5)
    # driver time under no span and no stage: 0-0.5, 1-2, 9-10
    assert rows["unattributed"] == pytest.approx(2.5)
    # the stage's 6 s wall: 16 s of task time fills 4 s at 4 tasks, the
    # rest is scheduling; task time splits 3 add, 1 hash, 12 remainder
    assert rows["spark"] == pytest.approx(2.0)
    assert rows["kernel.add"] == pytest.approx(4.0 * 3 / 16)
    assert rows["kernel.hash"] == pytest.approx(4.0 * 1 / 16)
    assert rows["scan"] == pytest.approx(4.0 * 12 / 16)
    assert rows["kernel.merge"] == pytest.approx(1.0)


def test_stage_without_library_calls_is_query_execution():
    driver = [{"id": 1, "parent": None, "name": "op", "t0": 0.0, "t1": 2.0}]
    stages = [{"stage": 1, "t0": 0.0, "t1": 2.0, "tasks": 1, "run_s": 2.0}]
    rows = layers.attribute(driver, [], stages, cores=4)
    assert rows["spark.exec"] == pytest.approx(2.0)
    assert rows["unattributed"] == pytest.approx(0.0)
