#!/usr/bin/env bash
# Build the spark-submit --py-files artifact (north_star packaging).
#
#   bash tools/build_pyfiles.sh [OUT_ZIP]     # default dist/sparklink.zip
#
# The zip is a function of the sources alone: entries in sorted order, one
# fixed timestamp and mode, no extra fields, so two builds of one tree are
# byte-identical.
set -euo pipefail
repo="$(cd "$(dirname "$0")/.." && pwd)"
out="$(realpath -m "${1:-$repo/dist/sparklink.zip}")"
mkdir -p "$(dirname "$out")"
python3 - "$repo" "$out" <<'EOF'
import os
import sys
import zipfile

repo, out = sys.argv[1], sys.argv[2]
entries = []
for d, dirs, files in os.walk(os.path.join(repo, "sparklink")):
    dirs[:] = [x for x in dirs if x != "__pycache__"]
    entries += [os.path.join(d, f) for f in files if not f.endswith(".pyc")]
names = {os.path.relpath(p, repo): p for p in entries}
names["transcript_model.json"] = os.path.join(repo, "models", "transcript_model.json")
tmp = out + ".tmp"
with zipfile.ZipFile(tmp, "w") as z:
    for name in sorted(names):
        info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
        info.compress_type = zipfile.ZIP_DEFLATED
        info.external_attr = 0o100644 << 16
        with open(names[name], "rb") as f:
            z.writestr(info, f.read())
os.replace(tmp, out)
print(f"{out}: {len(names)} files")
EOF
