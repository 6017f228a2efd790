#!/usr/bin/env bash
# Count the options the engine reads.
#
#   tools/options.sh [source-dir]        (default src/main/scala)
#
# Run from the repository root. Prints every environment variable read
# through `sys.env(...)("NAME"` and every `"graft.x.y"` session conf named
# in the sources, each with its number of uses, then the totals. The
# `graft.plans.GraftExtensions` class name is a string of the same shape
# but not an option, so it is left out.
set -euo pipefail

src=${1:-src/main/scala}
env=$(grep -rhoE 'sys\.env[^"]*\("[A-Z_0-9]+"' "$src" |
  grep -oE '"[A-Z_0-9]+"$' | tr -d '"' | sort | uniq -c || true)
confs=$(grep -rhoE '"graft\.[A-Za-z0-9_.]+"' "$src" | tr -d '"' |
  grep -vx 'graft.plans.GraftExtensions' | sort | uniq -c || true)

echo "env vars (uses, name):"
[ -n "$env" ] && echo "$env"
echo "graft.* confs (uses, name):"
[ -n "$confs" ] && echo "$confs"
echo "total: $(grep -c . <<< "$env" || true) env vars," \
  "$(grep -c . <<< "$confs" || true) graft.* confs"
