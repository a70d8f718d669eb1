"""Process-scoped scratch directories for sink/maintenance demo keys.

Several declared queries WRITE (sinks, compaction, schema evolution,
corrupt-record quarantine, dynamic overwrite): their outputs are
scratch, but a FIXED /tmp path makes two concurrent full sweeps of
the same registry clobber each other mid-key (caught by the first
deliberately-concurrent cpus7 + sf0.01 sweep pair: interleaved
writers produced mixed row counts / doubled checksums / vanished
files). A real user would point each job at its own table path; the
engine-side equivalent is per-PROCESS scratch. Dead processes'
scratch roots are garbage-collected on first use, so repeated sweeps
don't accumulate corpus-sized litter.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile

_GC_DONE = [False]


def scratch_dir(name: str) -> str:
    """/tmp/dbis_scratch_p{pid}/{name} — created, process-exclusive.
    First call per process sweeps dead-pid siblings."""
    base = tempfile.gettempdir()
    if not _GC_DONE[0]:
        _GC_DONE[0] = True
        for d in os.listdir(base):
            m = re.match(r"dbis_scratch_p(\d+)$", d)
            if not m or int(m.group(1)) == os.getpid():
                continue
            try:
                os.kill(int(m.group(1)), 0)
            except ProcessLookupError:
                shutil.rmtree(os.path.join(base, d), ignore_errors=True)
            except PermissionError:
                pass  # alive under another user
    root = os.path.join(base, f"dbis_scratch_p{os.getpid()}")
    path = os.path.join(root, name)
    os.makedirs(path, exist_ok=True)
    return path
