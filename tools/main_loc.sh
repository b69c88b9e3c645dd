#!/usr/bin/env bash
# Non-blank, non-comment lines of main code: every line of
# src/main/**/*.scala except blank lines and lines whose first
# non-space characters are `//`, `/*` or `*` (scaladoc bodies).
# Usage: tools/main_loc.sh [repo-root]   (default: this script's repo)
set -euo pipefail
root="${1:-$(cd "$(dirname "$0")/.." && pwd)}"
find "$root/src/main" -name '*.scala' -print0 | xargs -0 cat |
  awk '{s=$0; gsub(/^[ \t]+/,"",s); if (s=="" || s ~ /^\/\// || s ~ /^\/\*/ || s ~ /^\*/) next; n++} END{print n}'
