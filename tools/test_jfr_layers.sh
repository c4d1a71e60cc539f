#!/usr/bin/env bash
# Shell test for tools/jfr_layers.py over a printed-recording fixture
# (jfr_layers_fixture.txt: eleven executor-thread samples and one sample of
# another thread). Run: bash tools/test_jfr_layers.sh
set -u
cd "$(dirname "$0")"
FAILS=0
chk() { # $1 desc, $2 cond (already evaluated: 0 ok)
  if [ "$2" = 0 ]; then echo "ok   - $1"; else echo "FAIL - $1"; FAILS=$((FAILS+1)); fi
}
out=$(python3 jfr_layers.py jfr_layers_fixture.txt --top 1)
grep -q '^executor samples: 11$' <<<"$out"
chk "only executor-thread samples count" $?
grep -Eq '^codegen compile +1 ' <<<"$out" && grep -Eq '^class loading +1 ' <<<"$out"
chk "a class load under a janino compile counts as class loading" $?
grep -Eq '^JSON parse +3 +27\.3 %$' <<<"$out" && grep -Eq '^shuffle write +1 ' <<<"$out"
chk "a JSON parse pulled by the shuffle writer counts as JSON parse" $?
grep -Eq '^pre-fold +1 ' <<<"$out" && grep -Eq '^state store +1 ' <<<"$out" &&
  grep -Eq '^parquet write +1 ' <<<"$out"
chk "each named group finds its sample" $?
grep -Eq '^other +2 ' <<<"$out"
chk "code a shuffle writer pulls through its iterator is not shuffle write" $?
grep -Eq '^self +2 +18\.2 % +com\.fasterxml\.jackson\.core\.JsonFactory\.createParser\(Reader\)$' <<<"$out"
chk "--top names the most frequent self frame with its signature" $?
out=$(python3 jfr_layers.py jfr_layers_fixture.txt --since 10:00:01)
grep -q '^executor samples: 9$' <<<"$out" && grep -Eq '^codegen compile +0 ' <<<"$out" &&
  grep -Eq '^JSON parse +3 +33\.3 %$' <<<"$out"
chk "--since drops the samples before it" $?
out=$(python3 jfr_layers.py jfr_layers_fixture.txt --since 10:00:01.450)
grep -q '^executor samples: 4$' <<<"$out"
chk "--since takes fractional seconds" $?
python3 jfr_layers.py jfr_layers_fixture.txt --since 23:00:00 >/dev/null; rc=$?
[ $rc = 1 ]
chk "no executor sample left exits 1" $?
if [ $FAILS = 0 ]; then echo "all passed"; else echo "$FAILS failed"; exit 1; fi
