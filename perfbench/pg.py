"""A throwaway local PostgreSQL cluster for the live workload.

The server refuses to run as root, so when the benchmark runs as root
every server command runs as the `postgres` system user via `su`. The
cluster listens on a unix socket only (no TCP port), with trust
authentication, wal_level=logical, and fsync off: the benchmark measures
the replication path, not the disk.

The data directory lives under the benchmark's work directory when the
`postgres` user can reach it; when a parent directory is closed to that
user it falls back to a private temporary directory, removed on stop.
"""
import os
import shutil
import subprocess
import tempfile

VERSIONS = ("15", "16", "17", "14")
PORT = 5432


def find_bin():
    for v in VERSIONS:
        d = "/usr/lib/postgresql/%s/bin" % v
        if os.access(os.path.join(d, "initdb"), os.X_OK):
            return d
    return None


def _is_root():
    return os.geteuid() == 0


def _sh(cmd, check=True):
    argv = ["su", "postgres", "-c", cmd] if _is_root() else ["bash", "-c", cmd]
    p = subprocess.run(argv, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, cwd="/")
    if check and p.returncode != 0:
        raise RuntimeError("command failed (%d): %s\n%s" % (p.returncode, cmd,
                                                          p.stdout.decode(errors="replace")))
    return p.stdout.decode(errors="replace")


def _reachable(path):
    if not _is_root():
        return True
    return subprocess.run(["su", "postgres", "-c", "test -w '%s'" % path],
                          stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL).returncode == 0


class Cluster:
    def __init__(self, work):
        self.bin = find_bin()
        if self.bin is None:
            raise RuntimeError("no PostgreSQL installation under /usr/lib/postgresql")
        base = os.path.join(work, "pg")
        os.makedirs(base)
        if _is_root():
            subprocess.run(["chown", "postgres:postgres", base], check=True)
        self.private = not _reachable(base)
        if self.private:
            os.rmdir(base)
            base = tempfile.mkdtemp(prefix="perfbench-pg-")
            if _is_root():
                subprocess.run(["chown", "postgres:postgres", base], check=True)
        self.base = base
        self.data = os.path.join(base, "data")
        self.sock = base
        self.port = PORT
        self.started = False

    def start(self):
        _sh("%s/initdb -D %s -A trust -U postgres -N -E UTF8 >/dev/null" % (self.bin, self.data))
        opts = ("-k %s -p %d -c listen_addresses= -c wal_level=logical "
                "-c max_wal_senders=4 -c max_replication_slots=4 -c fsync=off "
                "-c full_page_writes=off" % (self.sock, self.port))
        _sh("%s/pg_ctl -D %s -l %s/pg.log -w -o '%s' start >/dev/null"
            % (self.bin, self.data, self.base, opts))
        self.started = True

    def version(self):
        return _sh("%s/postgres --version" % self.bin).strip()

    def stop(self):
        if self.started:
            _sh("%s/pg_ctl -D %s -m immediate -w stop >/dev/null" % (self.bin, self.data),
                check=False)
            self.started = False
        shutil.rmtree(self.base, ignore_errors=True)
