#!/bin/bash
# Pre-commit guard: refuse any commit that would snapshot a non-compiling
# tree. Round 14's end-of-round snapshot committed a half-finished refactor
# (undefined helpers in TextQueries.scala) and invalidated every gate for
# the round; this hook makes that class of commit fail fast.
#
# Scope note: the guard compiles the WORKING TREE, which equals the staged
# snapshot for whole-tree commits (the end-of-round `git add -A` case this
# exists for). Under PARTIAL staging the two can diverge — a passing
# working-tree compile does not prove the staged subset compiles — so the
# hook detects that case and warns loudly rather than claiming coverage it
# doesn't have (a staged-snapshot compile would need a clean checkout-index
# and a cold full build on every commit).
#
# Install (done by scripts/install_hooks.sh, idempotent):
#   ln -sf ../../scripts/precommit_guard.sh .git/hooks/pre-commit
#
# Fast path: commits that stage no .scala / build file skip the compile.
set -e
cd "$(git rev-parse --show-toplevel)"

if git diff --cached --name-only | grep -qE '\.(scala|sbt)$|project/'; then
  # divergence check must include UNTRACKED sources: the motivating
  # failure is staged code calling helpers in a new file nobody added —
  # the working tree compiles, the committed snapshot doesn't
  if { git diff --name-only; git ls-files --others --exclude-standard; } \
      | grep -qE '\.(scala|sbt)$|project/'; then
    echo "[precommit_guard] WARNING: unstaged or untracked Scala/build" >&2
    echo "[precommit_guard] files exist — compiling the working tree," >&2
    echo "[precommit_guard] which differs from the staged snapshot." >&2
    echo "[precommit_guard] Stage everything (-A) for a guarantee that" >&2
    echo "[precommit_guard] the COMMIT compiles." >&2
  fi
  echo "[precommit_guard] Scala sources staged; running sbt compile..." >&2
  if ! sbt -batch compile > /tmp/precommit_compile.log 2>&1; then
    echo "[precommit_guard] REFUSING COMMIT: sbt compile failed." >&2
    tail -30 /tmp/precommit_compile.log >&2
    exit 1
  fi
  echo "[precommit_guard] compile green." >&2
  # One session builder, one engine install: sessions are built only by
  # graft.GraftSession, and gate bodies never install or register
  # engine parts (Registry hands each gate its own installed session).
  # Refuse staged lines that regrow either.
  regrow=$(git diff --cached -U0 -- src | awk '
    /^\+\+\+ / { f = substr($0, 7); next }
    !/^\+/ { next }
    /SparkSession\.builder/ && f !~ /\/GraftSession\.scala$/ { print f ": " substr($0, 2) }
    /(install|register)\(/ && f ~ /^src\/main\/scala\/graft\/queries\// { print f ": " substr($0, 2) }')
  if [ -n "$regrow" ]; then
    echo "[precommit_guard] REFUSING COMMIT: build sessions with" >&2
    echo "[precommit_guard] GraftSession.local and keep install/register" >&2
    echo "[precommit_guard] calls out of gate bodies:" >&2
    echo "$regrow" >&2
    exit 1
  fi
  # One manifest format: zone maps and Blooms are per column only, so
  # the retired single-column fork (statsCol, the "colstats" opt-out,
  # the tableMeta header reader) must not regrow in src/main.
  regrow=$(git diff --cached -U0 -- src/main | awk '
    /^\+\+\+ / { f = substr($0, 7); next }
    !/^\+/ { next }
    /statsCol|"colstats"|tableMeta/ { print f ": " substr($0, 2) }')
  if [ -n "$regrow" ]; then
    echo "[precommit_guard] REFUSING COMMIT: lake metadata is per column" >&2
    echo "[precommit_guard] only (colStats/colBlooms); keep statsCol," >&2
    echo "[precommit_guard] \"colstats\" and tableMeta out of src/main:" >&2
    echo "$regrow" >&2
    exit 1
  fi
  # One export writer: Exporter.backfillOnePass serves every window
  # shape and resolveWindows owns the key rule, so the retired
  # per-window writers and the fixed minute-key constant must not
  # regrow in src/main.
  regrow=$(git diff --cached -U0 -- src/main | awk '
    /^\+\+\+ / { f = substr($0, 7); next }
    !/^\+/ { next }
    /def exportWindow\(|def backfill\(|KeyFormat/ { print f ": " substr($0, 2) }')
  if [ -n "$regrow" ]; then
    echo "[precommit_guard] REFUSING COMMIT: export through" >&2
    echo "[precommit_guard] Exporter.backfillOnePass and key windows with" >&2
    echo "[precommit_guard] resolveWindows; keep exportWindow, backfill(" >&2
    echo "[precommit_guard] and KeyFormat out of src/main:" >&2
    echo "$regrow" >&2
    exit 1
  fi
  # One file-skipping path: VersionedLake.admits decides every file
  # and LakeAggregateFromManifest answers every metadata aggregate, so
  # the retired count rule and the planner rules' kill switches must
  # not regrow in src/main.
  regrow=$(git diff --cached -U0 -- src/main | awk '
    /^\+\+\+ / { f = substr($0, 7); next }
    !/^\+/ { next }
    /zonemap\.prune\.enabled|countmeta\.enabled|minmaxmeta\.enabled|LakeCountFromManifest/ { print f ": " substr($0, 2) }')
  if [ -n "$regrow" ]; then
    echo "[precommit_guard] REFUSING COMMIT: lake file skipping has one" >&2
    echo "[precommit_guard] path and no switches; keep the zonemap.prune," >&2
    echo "[precommit_guard] countmeta and minmaxmeta confs and" >&2
    echo "[precommit_guard] LakeCountFromManifest out of src/main:" >&2
    echo "$regrow" >&2
    exit 1
  fi
  # GATES.md census: regenerate from the registry so the committed
  # census can never lag it. A diff means the registry changed without
  # the census — regenerate, auto-stage when GATES.md itself is part
  # of this commit's staging scope, refuse otherwise.
  if scripts/census.sh > /tmp/precommit_census.log 2>&1; then
    if ! git diff --quiet -- GATES.md; then
      if git diff --cached --name-only | grep -qx GATES.md; then
        echo "[precommit_guard] GATES.md was stale; regenerated and re-staged." >&2
        git add GATES.md
      else
        echo "[precommit_guard] REFUSING COMMIT: the gate census changed but" >&2
        echo "[precommit_guard] GATES.md is not staged — review the diff and" >&2
        echo "[precommit_guard] 'git add GATES.md' (or include it in -A):" >&2
        git --no-pager diff --stat -- GATES.md >&2
        exit 1
      fi
    fi
  else
    echo "[precommit_guard] WARNING: census.sh failed; GATES.md not checked:" >&2
    tail -5 /tmp/precommit_census.log >&2
  fi
fi
