"""Structured Streaming tier.

The reference has no streams (SURVEY.md section 2.5); its two
stream-shaped constructs -- the append-only changelog and the
sliding-window quota tracker -- are re-expressed here on real
Structured Streaming: file-source readStream, watermarked tumbling
windows, and applyInPandasWithState for the sequential admit/record
quota semantics Catalyst cannot express declaratively.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

# ONE process-lived scratch root, removed at interpreter exit: the
# staged events-stream source, the novelty stream's session-cached seed
# index and staged waves, each run's workdir and the default admission
# logs all live under it, so repeated invocations (bench steady state)
# never accumulate directories in /tmp or in the checkout.  Callers who
# need a result to OUTLIVE the process pass their own directory.
_SCRATCH_ROOT: list = []


def scratch_root() -> str:
    if not _SCRATCH_ROOT:
        root = tempfile.mkdtemp(prefix="kvmr-stream-")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _SCRATCH_ROOT.append(root)
    return _SCRATCH_ROOT[0]
