"""A run leaves no process behind: orphans are adopted and reaped."""

import subprocess
import sys
import textwrap

from perfbench import procs, run

# A child that becomes a subreaper, starts a shell which backgrounds a
# long sleep and exits at once (the sleep is orphaned), then reaps.
SCRIPT = textwrap.dedent("""
    import subprocess, sys, time
    from perfbench import procs
    assert procs.become_subreaper()
    out = subprocess.run(["sh", "-c", "sleep 300 >/dev/null 2>&1 & echo $!"],
                         capture_output=True, text=True).stdout
    orphan = int(out)
    time.sleep(0.2)
    assert orphan in procs.children(), "orphan was not adopted"
    left = procs.reap_children(grace_s=5)
    assert orphan in left and procs.children() == []
    assert procs.reap_children(grace_s=0) == []
    print(orphan)
""")


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def test_orphans_are_adopted_and_reaped():
    p = subprocess.run([sys.executable, "-c", SCRIPT], cwd=run.ROOT,
                       capture_output=True, text=True, timeout=60)
    assert p.returncode == 0, p.stderr[-2000:]
    assert not _alive(int(p.stdout.split()[-1]))

