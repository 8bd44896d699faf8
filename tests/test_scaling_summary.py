"""The CPU side of the N -> 4N scaling recipe.

Scaling is two perfbench runs under ``taskset`` (README "Running"); the
work each side did is perfbench's ``cpu_s``, the process-tree CPU that
``Job.timed`` records around a job. These tests pin that it counts the
CPU of children and of their own children (the JVM and the Python
workers in a real run), and that a failing job still has its CPU
recorded. Pure Python, no Spark."""

import subprocess
import sys

import pytest

from perfbench.harness import Job

# a child that burns CPU in a grandchild and waits for it
_BURN = ("import subprocess, sys;"
         "subprocess.run([sys.executable, '-c',"
         "'x=0\\nfor i in range(4*10**6): x+=i*i']);"
         "print('OUT-MARKER'); sys.stderr.write('ERR-MARKER')")


def test_run_with_tree_cpu_captures_output_and_cpu():
    job = Job()
    with job.timed("leg"):
        r = subprocess.run([sys.executable, "-c", _BURN],
                           capture_output=True, text=True, timeout=60)
    assert r.returncode == 0
    assert "OUT-MARKER" in r.stdout and "ERR-MARKER" in r.stderr
    assert job.cpu["leg"] > 0.05 and job.cpu_s == job.cpu["leg"]
    assert job.wall["leg"] > 0 and job.wall_s == job.wall["leg"]


def test_run_with_tree_cpu_propagates_failure():
    job = Job()
    with pytest.raises(subprocess.CalledProcessError) as err:
        with job.timed("leg"):
            subprocess.run([sys.executable, "-c", _BURN + ";sys.exit(3)"],
                           capture_output=True, timeout=60, check=True)
    assert err.value.returncode == 3
    assert job.cpu["leg"] > 0.05
