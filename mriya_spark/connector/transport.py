"""HTTP transport for the Salesforce-shaped connector.

This is the "real wire" implementation of the transport seam the DSv2
reader/writer call through (`salesforce.py`): same method surface as
``MockTransport`` (``count`` / ``query_page`` / ``insert``), backed by
HTTPS instead of jsonl files. It reproduces the reference connector's
session behavior:

- OAuth2 password-grant token fetch
  (`/root/reference/data_connector.py:200-216`)
- token cache file keyed by username, with a cheap probe call and
  re-auth on a stale cache (`data_connector.py:186-198,219-244`)
- login-URL prefix rewrite for sandbox instances
  (`data_connector.py:45-48,166-168`)
- streamed CSV query results — rows are parsed straight off the
  response stream, never buffered whole (`data_connector.py:328-368`)
- one automatic re-auth + retry when a request comes back 401, the
  REST analogue of the reference's catch-and-reconnect
  (`data_connector.py:345-349`)

Everything is stdlib (urllib/csv/json): executors can construct a
transport without extra packages. The sandbox this repo builds in has
no outbound network, so the HTTP surface is exercised in tests against
a local mock server (`tests/test_transport.py`) — the wire protocol
there mirrors the Salesforce shapes (token endpoint, paginated CSV
query, chunked JSON DML) without pretending to be a real org.
"""

from __future__ import annotations

import csv
import io
import json
import os
import urllib.error
import urllib.parse
import urllib.request
from dataclasses import dataclass
from typing import Iterator, Sequence

#: SOAP DML chunk envelope (reference `data_connector.py:23` QUERY_LIMIT),
#: enforced by both the mock org (`salesforce.py`) and the HTTP transport.
DML_CHUNK_SIZE = 200

#: Token cache location. The reference keeps its session file in the
#: process cwd (`data_connector.py:24,219-243`); a shared
#: world-readable /tmp path would let any local user read live tokens,
#: so the default is the same user-scoped cache root every other
#: derived artifact uses (honors MRIYA_SPARK_CACHE_DIR) and the file
#: is created 0600.
from mriya_spark.cachedir import cache_root as _cache_root

DEFAULT_SESSION_FILE = os.path.join(_cache_root(), "sessions.json")


@dataclass(frozen=True)
class ConnectorParams:
    """Connection identity (reference ``ConnectorParam`` namedtuple,
    `data_connector.py:19-22`). ``url_prefix`` rewrites the login host
    for sandboxes ('test.' etc., `data_connector.py:45-48`)."""

    username: str
    password: str
    base_url: str = "https://login.salesforce.com"
    url_prefix: str = ""
    consumer_key: str = ""
    consumer_secret: str = ""
    session_file: str = DEFAULT_SESSION_FILE

    @property
    def instance_url(self) -> str:
        if not self.url_prefix:
            return self.base_url
        scheme, rest = self.base_url.split("://", 1)
        host = rest.split("/", 1)[0]
        # 'login.x.y' -> '<prefix>x.y' (reference replaces 'login.'
        # with the prefix, `data_connector.py:45-48`)
        new_host = (
            self.url_prefix + host[len("login."):]
            if host.startswith("login.")
            else self.url_prefix + host
        )
        return f"{scheme}://{new_host}"

    @property
    def token_url(self) -> str:
        return self.instance_url + "/services/oauth2/token"


class AuthError(RuntimeError):
    pass


class HttpTransport:
    """Paginated-CSV reads + chunked-JSON DML over HTTP.

    Endpoint shapes (the local test server implements the same):

    - ``POST {token_url}`` with a password-grant form -> ``{"access_token": ...}``
    - ``GET  {instance}/query/{obj}?columns=..&offset=..&limit=..&q=<json filters>``
      -> ``text/csv`` (header row + data rows), streamed
    - ``GET  {instance}/count/{obj}?q=<json filters>`` -> ``{"count": N}``
    - ``POST {instance}/insert/{obj}`` with a JSON array of ≤200 rows
      -> ``{"inserted": N}``
    """

    def __init__(self, params: ConnectorParams):
        self.params = params
        self.access_token: str | None = None

    # -- session management (reference `data_connector.py:186-244`) ------
    def get_token(self) -> str:
        """Cached token if it still works, else a fresh grant."""
        if self.access_token:
            return self.access_token
        cached = self._cached_token()
        if cached:
            self.access_token = cached
            if self._probe():
                return cached
            self._remove_cached_token()
            self.access_token = None
        return self._oauth2_token()

    def _probe(self) -> bool:
        """check_token analogue (`data_connector.py:174-183`): the
        cheapest authenticated call — count with an always-false
        filter — proves the session is live."""
        try:
            self._request_json(
                "GET",
                self._url("count", "__probe__", {"q": "[]"}),
                retry_auth=False,
            )
            return True
        except Exception:
            return False

    def _oauth2_token(self) -> str:
        form = urllib.parse.urlencode(
            {
                "grant_type": "password",
                "client_id": self.params.consumer_key,
                "client_secret": self.params.consumer_secret,
                "username": self.params.username,
                "password": self.params.password,
            }
        ).encode()
        req = urllib.request.Request(
            self.params.token_url,
            data=form,
            headers={"Content-Type": "application/x-www-form-urlencoded"},
            method="POST",
        )
        try:
            with urllib.request.urlopen(req) as resp:
                body = json.loads(resp.read())
        except urllib.error.HTTPError as e:
            detail = e.read().decode(errors="replace")
            raise AuthError(f"token grant failed ({e.code}): {detail}") from None
        if "access_token" not in body:
            raise AuthError(f"token grant failed: {body}")
        self.access_token = body["access_token"]
        self._save_token()
        return self.access_token

    def _cached_token(self) -> str | None:
        try:
            with open(self.params.session_file) as f:
                return json.load(f).get(self.params.username)
        except Exception:
            return None

    def _mutate_tokens(self, fn) -> None:
        """Serialized read-modify-write of the token cache.

        The cache is shared by every transport of the same user, so
        concurrent processes (e.g. parallel connector jobs) race on it.
        An ``flock``'d sibling lockfile serializes the RMW, the payload
        is written 0600 (tokens are credentials), and the content lands
        via tmp-file + ``os.replace`` so readers — ``_cached_token``
        takes no lock — always see a complete JSON document.

        POSIX-only serialization: without ``fcntl`` (Windows) the
        atomic replace still guarantees readers see complete documents,
        but two simultaneous writers race last-writer-wins on the RMW.
        """
        import tempfile

        path = self.params.session_file
        d = os.path.dirname(path) or "."
        created = not os.path.isdir(d)
        os.makedirs(d, mode=0o700, exist_ok=True)
        # Tighten to 0700 only for dirs WE created (makedirs' mode is
        # umask-filtered); ANY pre-existing dir keeps its mode —
        # chmod'ing it would silently strip deliberately-granted group
        # access or sticky semantics (r5 ADVICE), and cachedir applies
        # the identical policy to the same default root. Too-permissive
        # pre-existing dirs get a warning instead.
        if created:
            try:
                os.chmod(d, 0o700)
            except OSError:  # not ours (e.g. shared parent) — leave it
                pass
        else:
            import stat as _stat
            import warnings

            try:
                mode = _stat.S_IMODE(os.stat(d).st_mode)
            except OSError:
                mode = 0
            if mode & 0o077:
                warnings.warn(
                    f"session file directory {d!r} is group/other-"
                    f"accessible (mode {oct(mode)}); the token file is "
                    "0600 but a private directory is recommended",
                    stacklevel=2,
                )
        # O_NOFOLLOW: if the cache dir was ever shared, a planted
        # symlink at <path>.lock must not redirect the open
        flags = os.O_CREAT | os.O_WRONLY | getattr(os, "O_NOFOLLOW", 0)
        lock_fd = os.open(path + ".lock", flags, 0o600)
        try:
            try:
                import fcntl

                fcntl.flock(lock_fd, fcntl.LOCK_EX)
            except ImportError:  # non-POSIX: see docstring
                pass
            tokens = {}
            try:
                with open(path) as f:
                    tokens = json.load(f)
            except Exception:
                pass
            if not isinstance(tokens, dict):
                # valid-JSON-but-not-a-dict (corrupt/foreign file):
                # start fresh rather than crash the post-grant save
                tokens = {}
            fn(tokens)
            tmp_fd, tmp_path = tempfile.mkstemp(prefix=".sessions_", dir=d)
            try:
                os.fchmod(tmp_fd, 0o600)
                with os.fdopen(tmp_fd, "w") as f:
                    json.dump(tokens, f)
                os.replace(tmp_path, path)
            except BaseException:
                try:
                    os.unlink(tmp_path)
                except OSError:
                    pass
                raise
        finally:
            os.close(lock_fd)  # closing releases the flock

    def _save_token(self) -> None:
        tok = self.access_token
        self._mutate_tokens(lambda t: t.__setitem__(self.params.username, tok))

    def _remove_cached_token(self) -> None:
        try:
            self._mutate_tokens(lambda t: t.pop(self.params.username, None))
        except Exception:
            pass

    # -- plumbing --------------------------------------------------------
    def _url(self, verb: str, obj: str, qs: dict | None = None) -> str:
        url = f"{self.params.instance_url}/{verb}/{urllib.parse.quote(obj)}"
        if qs:
            url += "?" + urllib.parse.urlencode(qs)
        return url

    def _open(self, method: str, url: str, body: bytes | None, *, retry_auth: bool):
        req = urllib.request.Request(
            url,
            data=body,
            headers={
                "Authorization": f"Bearer {self.get_token()}",
                **({"Content-Type": "application/json"} if body else {}),
            },
            method=method,
        )
        try:
            return urllib.request.urlopen(req)
        except urllib.error.HTTPError as e:
            if e.code == 401 and retry_auth:
                # stale/revoked session: drop the cache, re-auth once,
                # retry (reference `data_connector.py:345-349`)
                self._remove_cached_token()
                self.access_token = None
                return self._open(method, url, body, retry_auth=False)
            raise

    def _request_json(
        self, method: str, url: str, body: bytes | None = None, *,
        retry_auth: bool = True,
    ) -> dict:
        with self._open(method, url, body, retry_auth=retry_auth) as resp:
            return json.loads(resp.read())

    # -- transport interface (same surface as MockTransport) -------------
    def count(self, obj: str, filters: Sequence[dict]) -> int:
        out = self._request_json(
            "GET", self._url("count", obj, {"q": json.dumps(list(filters))})
        )
        return int(out["count"])

    def query_page(
        self,
        obj: str,
        columns: Sequence[str],
        filters: Sequence[dict],
        offset: int,
        limit: int,
    ) -> Iterator[dict]:
        """One page, streamed: yields dicts straight off the chunked
        CSV response (`data_connector.py:357-368` iter_lines +
        DictReader) — a page is never held in memory as a whole."""
        url = self._url(
            "query",
            obj,
            {
                "columns": ",".join(columns),
                "q": json.dumps(list(filters)),
                "offset": offset,
                "limit": limit,
            },
        )
        resp = self._open("GET", url, None, retry_auth=True)
        try:
            text = io.TextIOWrapper(resp, encoding="utf-8", newline="")
            for row in csv.DictReader(text):
                # CSV is stringly; the DSv2 reader restores types from
                # the declared schema. Empty string == NULL on the wire.
                yield {k: (None if v == "" else v) for k, v in row.items()}
        finally:
            resp.close()

    def insert(self, obj: str, rows: list[dict]) -> int:
        if len(rows) > DML_CHUNK_SIZE:
            raise ValueError(f"insert chunk {len(rows)} exceeds {DML_CHUNK_SIZE}")
        out = self._request_json(
            "POST",
            self._url("insert", obj),
            json.dumps(rows, default=str).encode(),
        )
        return int(out["inserted"])
