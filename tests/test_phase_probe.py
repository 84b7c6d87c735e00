"""tools/phase_probe.py: a missing or unknown probe name exits with the
module's usage text instead of an IndexError or KeyError."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

import phase_probe  # noqa: E402


@pytest.mark.parametrize("argv", [[], ["nope"], ["g3", "sf", "extra"]])
def test_bad_argv_exits_with_usage(argv):
    with pytest.raises(SystemExit) as exc:
        phase_probe.main(argv)
    assert exc.value.code == phase_probe.__doc__
    assert "python tools/phase_probe.py g3 [sf_dir]" in exc.value.code
