#!/usr/bin/env bash
# Build engine.zip for spark-submit --py-files.
#   scripts/package.sh [OUT]   (OUT defaults to engine.zip at the repo root)
set -euo pipefail
out="$(realpath -m "${1:-$(dirname "$0")/../engine.zip}")"
cd "$(dirname "$0")/.."
rm -f "$out"
OUT="$out" python - <<'EOF'
import os, zipfile
out = os.environ['OUT']
with zipfile.ZipFile(out, 'w', zipfile.ZIP_DEFLATED) as z:
    for root, _, files in os.walk('changepoynt_spark'):
        if '__pycache__' in root:
            continue
        for f in files:
            if f.endswith('.py'):
                z.write(os.path.join(root, f))
print(f'{out} written')
EOF
