#!/usr/bin/env python3
"""Environment-reading mapper — parity probe for the reference's executable
contract: workers spawn executables with an inherited environment
(reference worker/__main__.py:128-133, Popen without env= overrides), so a
mapper may legitimately read configuration from env vars. Emits the value
of the variable named by its first argument ($MRG_TAG when none is given)
as the key for every input line."""
import os
import sys

name = sys.argv[1] if len(sys.argv) > 1 else "MRG_TAG"
tag = os.environ.get(name, "MISSING")
for _ in sys.stdin:
    sys.stdout.write(f"{tag}\t1\n")
