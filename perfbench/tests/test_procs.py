import os
import subprocess
import sys
import time

import pytest

from perfbench.box import calibrate, cpu_ticks, steal_share
from perfbench.procs import become_subreaper, children, reap_all

pytestmark = pytest.mark.skipif(not sys.platform.startswith("linux"), reason="uses /proc")


def test_calibrate_leaves_no_child():
    assert calibrate(2) > 0
    assert children() == []


def test_steal_share_is_the_stolen_part_of_all_ticks():
    assert steal_share((10, 1000), (60, 1200)) == 0.25
    assert steal_share((5, 100), (5, 100)) == 0.0
    steal, total = cpu_ticks()
    assert 0 <= steal <= total and total > 0


def test_reap_all_ends_orphaned_grandchild():
    become_subreaper()
    # the shell exits at once; its background sleep is orphaned to us
    subprocess.run(["sh", "-c", "sleep 60 >/dev/null 2>&1 &"], check=True)
    end = time.monotonic() + 5
    while not children() and time.monotonic() < end:
        time.sleep(0.05)
    left = children()
    assert left, "the orphan was not re-parented to this process"
    t0 = time.monotonic()
    assert reap_all(grace_s=2) >= 1
    assert time.monotonic() - t0 < 10
    assert children() == []
    for pid in left:
        assert not os.path.exists(f"/proc/{pid}")
