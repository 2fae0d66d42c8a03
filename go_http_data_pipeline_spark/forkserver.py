"""Fork server for the engine's Spark worker processes (see session.py,
"Worker interpreter").

Run by path, in one of two modes:

* ``worker_python.sh -u forkserver.py --serve DIR`` is the server. It
  prints the pyspark and py4j versions it imports (the session's
  launcher check), imports what Spark's per-query Python processes
  import, freezes that heap for the garbage collector and serves on
  ``DIR/sock``. Each request forks a
  child that becomes ``python -m MODULE ARGS`` with the client's
  stdio, argv, environment and working directory. When its stdin (the
  driver's pipe) reaches EOF the server removes ``DIR``, gives its
  children a second and exits.
* ``python -I -S forkserver.py -m MODULE ARGS`` is the client that
  ``worker_python.sh`` runs for each ``-m`` launch while ``DIR/sock``
  exists. It passes fds 0-2 to the server, relays signals to the child
  and exits with the child's status. When the server cannot be
  reached, or declines a launch whose environment would set the
  interpreter up differently, it re-runs the launcher without the
  server, which execs the interpreter. It imports builtin modules only, so it starts in ~15 ms.

``DIR`` reaches the launcher through ``SOCKET_DIR_ENV`` in the
environment the JVM inherits from ``get_spark``; it is not an option.
"""

from __future__ import annotations

import os
import sys

SOCKET_DIR_ENV = "_SPARK_GRAFT_FORK_SERVER"
_RELAYED = ("SIGTERM", "SIGINT", "SIGHUP", "SIGQUIT", "SIGUSR1", "SIGUSR2")
_INT = 4  # bytes of a pid or a wait status on the wire


def relay(argv: list[str]) -> None:
    """Client: run ``argv`` (``-m MODULE ARGS``) in a child of the server."""
    import _signal
    import _socket
    import marshal

    pid = 0
    pending = []

    def forward(sig, _frame):
        if not pid:
            pending.append(sig)
            return
        try:
            os.kill(pid, sig)
        except OSError:
            pass

    for name in _RELAYED:
        _signal.signal(getattr(_signal, name), forward)
    sock = _socket.socket(_socket.AF_UNIX, _socket.SOCK_SEQPACKET)
    fds = b"".join(fd.to_bytes(_INT, sys.byteorder) for fd in (0, 1, 2))
    try:
        cwd = os.getcwd()
        os.chdir(os.environ.get(SOCKET_DIR_ENV, ""))  # a socket path holds at most 107 bytes
        try:
            sock.connect("sock")
        finally:
            os.chdir(cwd)
        request = marshal.dumps((argv, dict(os.environ), cwd))
        sock.sendmsg([request], [(_socket.SOL_SOCKET, _socket.SCM_RIGHTS, fds)])
        reply = sock.recv(_INT)
    except OSError:
        reply = b""
    if len(reply) != _INT:
        _die_of(pending)
        os.environ.pop(SOCKET_DIR_ENV, None)
        launcher = os.path.join(os.path.dirname(os.path.abspath(__file__)), "worker_python.sh")
        os.execv(launcher, [launcher, *argv])
    pid = int.from_bytes(reply, sys.byteorder)
    for sig in pending:
        forward(sig, None)
    try:
        reply = sock.recv(_INT)
    except OSError:
        reply = b""
    if len(reply) != _INT:  # the server died: nothing reaps or reports the child
        forward(_signal.SIGKILL, None)
        os._exit(1)
    code = os.waitstatus_to_exitcode(int.from_bytes(reply, sys.byteorder, signed=True))
    if code < 0:
        _die_of([-code])
        code = 128 - code
    os._exit(code)


def _die_of(signals: list[int]) -> None:
    """Die of the first of ``signals``, as if it was never caught."""
    import _signal

    if signals:
        _signal.signal(signals[0], _signal.SIG_DFL)
        os.kill(os.getpid(), signals[0])


def serve(socket_dir: str) -> None:
    """Server: see the module docstring."""
    import shutil
    import signal

    signal.signal(signal.SIGTERM, lambda *_: sys.exit(0))
    signal.signal(signal.SIGINT, signal.SIG_IGN)  # the driver decides
    try:
        import py4j
        import pyspark

        print(pyspark.__version__, py4j.__version__, flush=True)
        _Server(socket_dir).run()
    finally:
        shutil.rmtree(socket_dir, ignore_errors=True)
    os._exit(0)  # skips tearing down pandas, pyarrow, ... module by module


def _differs(env: dict[str, str], server_env: dict[str, str]) -> bool:
    """Whether an interpreter started with ``env`` would be set up
    differently from the server: another ``PYTHONHASHSEED``,
    ``PYTHONWARNINGS``, ... (not the search path, which a child
    extends, nor buffering: the server runs unbuffered, as Spark
    starts its workers), or a thread count (``OMP_NUM_THREADS``, ...)
    other than the one OpenBLAS read when the server imported numpy.
    A launch that sets no thread count gets the server's."""
    import re

    def settings(e):
        return {
            k: v
            for k, v in e.items()
            if re.fullmatch("PYTHON[A-Z]+", k) and k not in ("PYTHONPATH", "PYTHONUNBUFFERED")
        }

    threads = any(server_env.get(k) != v for k, v in env.items() if re.fullmatch(r"\w+_NUM_THREADS", k))
    return threads or settings(env) != settings(server_env)


class _Server:
    def __init__(self, socket_dir: str):
        import gc
        import selectors
        import socket
        import threading

        # Run by path, sys.path[0] is this package's directory; the
        # package's parent makes the package importable instead.
        sys.path[0] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        import pandas  # noqa: F401
        import pyarrow  # noqa: F401
        import pyspark.daemon  # noqa: F401
        import pyspark.sql.streaming.python_streaming_source_runner  # noqa: F401
        import pyspark.sql.worker.create_data_source  # noqa: F401
        import pyspark.sql.worker.plan_data_source_read  # noqa: F401
        import pyspark.worker  # noqa: F401
        import urllib.request  # noqa: F401

        import go_http_data_pipeline_spark.sources.http_json  # noqa: F401

        gc.freeze()
        self.env = dict(os.environ)
        self.dir = socket_dir
        self.open = True  # until the driver's pipe closes
        self.children: dict[int, tuple[int, socket.socket]] = {}  # pidfd -> (pid, conn)
        self.sel = selectors.DefaultSelector()
        self.sel.register(0, selectors.EVENT_READ, self._stdin)
        # A fork while another Python thread runs can leave that
        # thread's locks held in the child; without a listener every
        # launch execs. Native pools (OpenBLAS, jemalloc) are not
        # counted: they register fork handlers, which Spark's own
        # daemon relies on as well.
        if threading.active_count() == 1 and hasattr(os, "pidfd_open"):
            os.symlink(sys.executable, os.path.join(socket_dir, "python"))
            listener = socket.socket(socket.AF_UNIX, socket.SOCK_SEQPACKET)
            os.chdir(socket_dir)  # a socket path holds at most 107 bytes
            listener.bind("sock")
            listener.listen(64)
            self.sel.register(listener, selectors.EVENT_READ, self._accept)

    def run(self) -> None:
        import math
        import signal
        import time

        while self.open:
            self._dispatch(None)
        deadline = time.monotonic() + 1.0
        while self.children:
            timeout = deadline - time.monotonic()
            if timeout <= 0:
                for pidfd in self.children:
                    try:
                        signal.pidfd_send_signal(pidfd, signal.SIGKILL)
                    except OSError:
                        pass
                deadline, timeout = math.inf, None
            self._dispatch(timeout)

    def _dispatch(self, timeout: float | None) -> None:
        for key, _ in self.sel.select(timeout):
            key.data(key.fileobj)

    def _stdin(self, fd: int) -> None:
        import shutil

        if os.read(fd, 1 << 16):
            return
        self.open = False
        for key in list(self.sel.get_map().values()):
            if key.data in (self._stdin, self._accept):
                self.sel.unregister(key.fileobj)
                if key.fd > 2:
                    key.fileobj.close()
        shutil.rmtree(self.dir, ignore_errors=True)

    def _accept(self, listener) -> None:
        import marshal
        import selectors
        import socket

        conn, _ = listener.accept()
        conn.settimeout(10)
        fds: list[int] = []
        try:
            msg, fds, _, _ = socket.recv_fds(conn, 1 << 20, 3)
            argv, env, cwd = marshal.loads(msg)
            pid = os.fork() if len(fds) == 3 and not _differs(env, self.env) else -1
        except (OSError, ValueError, EOFError, TypeError):
            pid = -1
        if pid == 0:
            self._become(argv, env, cwd, fds, conn)
        for fd in fds:
            os.close(fd)
        if pid < 0:
            conn.close()  # the client falls back to exec
            return
        pidfd = os.pidfd_open(pid)
        self.children[pidfd] = (pid, conn)
        self.sel.register(pidfd, selectors.EVENT_READ, self._reap)
        self.sel.register(conn, selectors.EVENT_READ, self._client_gone)
        try:
            conn.send(pid.to_bytes(_INT, sys.byteorder))
        except OSError:
            pass  # _client_gone kills the child

    def _reap(self, pidfd: int) -> None:
        pid, conn = self.children.pop(pidfd)
        _, status = os.waitpid(pid, 0)
        self.sel.unregister(pidfd)
        os.close(pidfd)
        if conn.fileno() >= 0:
            try:
                conn.send(status.to_bytes(_INT, sys.byteorder, signed=True))
            except OSError:
                pass
            self.sel.unregister(conn)
            conn.close()

    def _client_gone(self, conn) -> None:
        """A client sends nothing after its request, so a readable conn
        means the client died; its child goes too, as an exec'd worker
        would have."""
        import signal

        pidfd = next(fd for fd, (_, c) in self.children.items() if c is conn)
        try:
            signal.pidfd_send_signal(pidfd, signal.SIGKILL)
        except OSError:
            pass
        self.sel.unregister(conn)
        conn.close()

    def _become(self, argv: list[str], env: dict[str, str], cwd: str, fds: list[int], conn) -> None:
        """In the forked child: become ``python -m MODULE ARGS`` as the
        client would have exec'd it. Never returns."""
        code = 1
        try:
            import importlib
            import runpy
            import signal

            for key in list(self.sel.get_map().values()):
                if isinstance(key.fileobj, int):
                    if key.fd > 2:
                        os.close(key.fd)
                else:
                    key.fileobj.close()
            self.sel.close()
            conn.close()
            for target, fd in enumerate(fds):
                os.dup2(fd, target)
            for fd in fds:
                if fd > 2:
                    os.close(fd)
            signal.signal(signal.SIGTERM, signal.SIG_DFL)
            signal.signal(signal.SIGINT, signal.default_int_handler)
            os.chdir(cwd)
            os.environ.clear()
            os.environ.update(env)
            # What `python -m` puts first on sys.path, then the
            # PYTHONPATH entries (Spark's pyFiles) the server lacks.
            extra = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p and p not in sys.path]
            sys.path[0:1] = [cwd, *extra]
            importlib.invalidate_caches()
            if "numpy" in sys.modules:
                sys.modules["numpy"].random.seed()  # `random` reseeds itself after a fork
            module = argv[1]
            sys.argv = [module, *argv[2:]]
            # Left in sys.modules, the module makes runpy warn on stderr.
            sys.modules.pop(module, None)
            runpy.run_module(module, run_name="__main__", alter_sys=True)
            code = 0
        except SystemExit as e:
            if e.code is None or isinstance(e.code, int):
                code = e.code or 0
            else:
                print(e.code, file=sys.stderr)
        except BaseException:
            import traceback

            traceback.print_exc()
        finally:
            try:
                import atexit
                import threading

                threading._shutdown()  # what the interpreter does at exit
                atexit._run_exitfuncs()
                sys.stdout.flush()
                sys.stderr.flush()
            finally:
                os._exit(code)


if __name__ == "__main__":
    if sys.argv[1:2] == ["--serve"]:
        serve(sys.argv[2])
    else:
        relay(sys.argv[1:])
