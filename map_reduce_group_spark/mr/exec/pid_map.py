#!/usr/bin/env python3
"""Process-tagging mapper — parity probe for the reference's map-task
membership: each map task runs one mapper process over the files dealt to
it (reference manager/__main__.py:371-390), so lines from two files share
a tag exactly when the files went to the same map task. Emits
``<tag>\t<line>`` per input line; the tag is the process id plus a random
suffix, so a reused pid cannot merge two tasks."""
import os
import sys
import uuid

tag = f"{os.getpid()}-{uuid.uuid4().hex[:8]}"
for line in sys.stdin:
    sys.stdout.write(f"{tag}\t{line}")
