#!/usr/bin/env bash
# Main-line count of the engine: non-blank lines under src/main/scala whose
# first non-space characters are not `//`, `/*` or `*`.
#
#   tools/main_lines.sh [repo-root]    # prints one integer
set -euo pipefail
root="${1:-$(cd "$(dirname "$0")/.." && pwd)}"
find "$root/src/main/scala" -name '*.scala' -print0 | xargs -0 cat \
  | grep -Ev '^[[:space:]]*($|//|/\*|\*)' | wc -l
