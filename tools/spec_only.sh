#!/usr/bin/env bash
# Candidates for src/main residue: each public, non-`override` member `def`
# under src/main/scala (indented two spaces, so local defs are skipped)
# whose name appears as a word in no other src/main file and nowhere under
# perfbench/ or tools/. `own` counts the other lines of its own file that
# name it (0: no caller in src/main at all; more: a helper of its own
# object, which could be private); `specs` counts the test files that name
# it. A name scan, not a call graph: a name shared by two defs counts as
# used by both.
#
#   tools/spec_only.sh [repo-root]    # prints file:line: name own=N specs=M
set -euo pipefail
root="${1:-$(cd "$(dirname "$0")/.." && pwd)}"
cd "$root"
mods='((final|implicit|@inline|@noinline)[[:space:]]+)*'
grep -rnE --include='*.scala' "^  ${mods}def[[:space:]]+[A-Za-z_][A-Za-z0-9_]*" src/main/scala \
  | sed -E "s/^([^:]+:[0-9]+):  ${mods}def[[:space:]]+([A-Za-z_][A-Za-z0-9_]*).*/\1 \4/" \
  | while read -r loc name; do
      file="${loc%%:*}"
      if ! grep -rlw --include='*.scala' -- "$name" src/main/scala | grep -qvxF -- "$file" \
          && ! grep -rqw --exclude-dir=target --exclude=spec_only.sh -- "$name" perfbench tools; then
        own=$(( $(grep -cw -- "$name" "$file") - 1 ))
        specs=$( { grep -rlw --include="*.scala" -- "$name" src/test || true; } | wc -l)
        echo "$loc: $name own=$own specs=$specs"
      fi
    done
