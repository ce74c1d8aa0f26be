#!/usr/bin/env bash
# Main code-line count: non-blank lines under src/main/scala that do not
# start, after indentation, with `//`, `/*` or `*` (comment lines).
#
# Usage: tools/loc.sh        (prints one integer)
set -euo pipefail
cd "$(dirname "$0")/.."
find src/main/scala -name '*.scala' -print0 | xargs -0 cat \
  | grep -Ev '^[[:space:]]*($|//|/\*|\*)' | wc -l
