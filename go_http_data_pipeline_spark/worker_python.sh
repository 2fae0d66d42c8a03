#!/bin/sh
# Python interpreter for the engine's Spark workers (see session.py,
# "Worker interpreter"). Spark puts $SPARK_HOME/python/lib/pyspark.zip
# and py4j-*-src.zip first on every worker's PYTHONPATH, and zipimport
# never caches bytecode, so each fresh worker compiles pyspark from
# source. Dropping the two zips lets the interpreter import its own
# installed, compiled copies. A `-m MODULE` launch goes to the
# session's fork server (forkserver.py) while its socket exists, so the
# process forks from one that has imported pyspark already. Shell
# builtins only: no subprocess.
if [ -n "${PYTHONPATH-}" ]; then
    rest=$PYTHONPATH:
    kept=
    while [ -n "$rest" ]; do
        entry=${rest%%:*}
        rest=${rest#*:}
        case $entry in
            */python/lib/pyspark.zip | */python/lib/py4j-*-src.zip) ;;
            *) kept=$kept$entry: ;;
        esac
    done
    PYTHONPATH=${kept%:}
    export PYTHONPATH
fi
if [ "${1-}" = -m ] && [ -S "${_SPARK_GRAFT_FORK_SERVER-}/sock" ]; then
    exec "$_SPARK_GRAFT_FORK_SERVER/python" -I -S "${0%/*}/forkserver.py" "$@"
fi
exec "${PYSPARK_PYTHON:-python3}" "$@"
