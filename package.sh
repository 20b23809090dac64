#!/bin/sh
# Build the --py-files artifact for spark-submit.
#   sh package.sh [OUT]    OUT defaults to dist/psdv_spark.zip
set -e
out="$(realpath -m "${1:-$(dirname "$0")/dist/psdv_spark.zip}")"
cd "$(dirname "$0")"
mkdir -p "$(dirname "$out")"
rm -f "$out"
python -c "
import zipfile, os, sys
with zipfile.ZipFile(sys.argv[1], 'w', zipfile.ZIP_DEFLATED) as z:
    for root, _, files in os.walk('professional_services_data_validator_spark'):
        if '__pycache__' in root:
            continue
        for f in files:
            if f.endswith('.py'):
                p = os.path.join(root, f)
                z.write(p, p)
print(sys.argv[1], 'written')
" "$out"
