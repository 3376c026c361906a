import os
import signal
import subprocess

import run
from measure import descendants


def test_stop_processes_ends_children_and_orphans():
    run.adopt_orphans()
    child = subprocess.Popen(["sleep", "60"])
    # the shell exits at once; its background sleep is orphaned and, with
    # this process as subreaper, becomes this process's child
    subprocess.run(["sh", "-c", "sleep 60 &"], check=True)
    assert len(descendants(os.getpid())) == 2
    old = signal.getsignal(signal.SIGTERM)
    try:
        run.stop_processes(timeout_s=5)
    finally:
        signal.signal(signal.SIGTERM, old)
    assert descendants(os.getpid()) == []
    assert child.poll() is not None
