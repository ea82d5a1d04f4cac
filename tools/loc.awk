# Code-line counter for simplicity work: non-blank, non-comment lines.
# Block comments (/* ... */, /** ... */) and whole-line // comments are
# excluded; a trailing // comment after code counts as code.
#   awk -f tools/loc.awk src/main/scala/graft/streaming/LakeSink.scala
#   find src/main -name '*.scala' | xargs cat | awk -f tools/loc.awk
{ line = $0; sub(/^[ \t]+/, "", line)
  if (inb) { if (line ~ /\*\//) { inb = 0; rest = line; sub(/.*\*\//, "", rest); if (rest ~ /[^ \t]/) c++ }; next }
  if (line ~ /^\/\*/) { if (line !~ /\*\//) inb = 1; else { rest = line; sub(/.*\*\//, "", rest); if (rest ~ /[^ \t]/) c++ }; next }
  if (line ~ /^\/\//) next
  if (line == "") next
  c++ }
END { print c + 0 }
