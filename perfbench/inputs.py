"""Seeded input generators: every input the benchmark hands the package
comes from here, and the same seed gives the same inputs.

Nothing here touches Spark. Generators also keep the record of what they
produced (per-file valid counts, malformed records, per-tenant aggregates),
which the workloads' output checks compare against.
"""

from __future__ import annotations

import base64
import bisect
import hashlib
import itertools
import json
import random
from collections import Counter
from dataclasses import dataclass, field

from cryptography.hazmat.primitives import hashes
from cryptography.hazmat.primitives.asymmetric import padding, rsa

N_TENANTS = 64
#: Zipf exponent: with 64 tenants the top tenant holds ~25% of the rows
ZIPF_S = 1.1
MALFORMED_SHARE = 0.02
REGIONS = ("us-east-1", "us-west-2", "eu-west-1", "eu-central-1", "ap-south-1", "sa-east-1")
N_EVENT_KINDS = 20


def rng_for(seed: int, *labels: object) -> random.Random:
    """Independent stream per (seed, label...) so that adding a consumer
    never shifts another consumer's inputs."""
    key = ":".join(str(x) for x in (seed, *labels)).encode()
    return random.Random(int.from_bytes(hashlib.sha256(key).digest()[:8], "big"))


class ZipfSampler:
    """Draws tenant ids with Zipf(s) weights over ranks; which tenant holds
    which rank is itself a seeded permutation."""

    def __init__(self, rng: random.Random, draw_rng: random.Random | None = None) -> None:
        self.tenants = [f"tenant-{i:02d}" for i in range(N_TENANTS)]
        rng.shuffle(self.tenants)
        weights = [1.0 / (rank**ZIPF_S) for rank in range(1, N_TENANTS + 1)]
        total = sum(weights)
        acc, self._cdf = 0.0, []
        for w in weights:
            acc += w / total
            self._cdf.append(acc)
        self._rng = draw_rng or rng

    def __call__(self) -> str:
        i = bisect.bisect_left(self._cdf, self._rng.random())
        return self.tenants[min(i, len(self.tenants) - 1)]


def event_kinds(rng: random.Random) -> list[str]:
    """Event names 4-40 characters long, so record sizes vary."""
    alphabet = "abcdefghijklmnopqrstuvwxyz_"
    kinds = set()
    while len(kinds) < N_EVENT_KINDS:
        kinds.add("".join(rng.choice(alphabet) for _ in range(rng.randint(4, 40))))
    return sorted(kinds)


@dataclass
class EventFile:
    """One landing file: JSON lines of ``{"tenant_id", "raw"}``."""

    index: int
    lines: list[str]
    valid: Counter  # tenant -> valid events
    malformed: list[str]  # raw payloads that must be quarantined
    records: list[tuple[str, dict]]  # (tenant, Data fields) of the valid events

    @property
    def name(self) -> str:
        return f"f{self.index:06d}.json"

    @property
    def n_valid(self) -> int:
        return sum(self.valid.values())


@dataclass
class EventGen:
    """Seeded tenant event source. Each record's ``device`` is
    ``d<file>-<line>``, unique per record, so lake rows can be traced back
    to the file that carried them."""

    seed: int
    tenants: ZipfSampler = field(init=False)
    kinds: list[str] = field(init=False)

    def __post_init__(self) -> None:
        self.tenants = ZipfSampler(rng_for(self.seed, "tenants"))
        self.kinds = event_kinds(rng_for(self.seed, "kinds"))

    def record(self, rng: random.Random, uid: str) -> tuple[str, dict | None, str]:
        """(tenant, data fields or None when malformed, raw payload)."""
        tenant = self.tenants()
        data = {
            "device": uid,
            "event": rng.choice(self.kinds),
            "region": rng.choice(REGIONS),
        }
        if rng.random() >= MALFORMED_SHARE:
            return tenant, data, json.dumps({"Data": data})
        flaw = rng.randrange(3)
        if flaw == 0:  # truncated JSON
            raw = json.dumps({"Data": data})[:-2]
        elif flaw == 1:  # required field missing
            raw = json.dumps({"Data": {"device": uid, "region": data["region"]}})
        else:  # field of the wrong JSON type
            raw = json.dumps({"Data": {**data, "region": rng.randint(0, 99)}})
        return tenant, None, raw

    def file(self, index: int, n_events: int) -> EventFile:
        rng = rng_for(self.seed, "file", index)
        lines, valid, bad, records = [], Counter(), [], []
        for j in range(n_events):
            tenant, data, raw = self.record(rng, f"d{index}-{j}")
            lines.append(json.dumps({"tenant_id": tenant, "raw": raw}))
            if data is None:
                bad.append(raw)
            else:
                valid[tenant] += 1
                records.append((tenant, data))
        return EventFile(index, lines, valid, bad, records)


# --- RS256 tokens -----------------------------------------------------------

_SMALL_PRIMES = [p for p in range(3, 2000, 2) if all(p % q for q in range(3, int(p**0.5) + 1, 2))]


def _b64url(b: bytes) -> str:
    return base64.urlsafe_b64encode(b).rstrip(b"=").decode("ascii")


def _is_probable_prime(n: int, rng: random.Random, rounds: int = 24) -> bool:
    if any(n % p == 0 for p in _SMALL_PRIMES):
        return n in _SMALL_PRIMES
    d, r = n - 1, 0
    while d % 2 == 0:
        d, r = d // 2, r + 1
    for _ in range(rounds):
        x = pow(rng.randrange(2, n - 2), d, n)
        if x in (1, n - 1):
            continue
        for _ in range(r - 1):
            x = pow(x, 2, n)
            if x == n - 1:
                break
        else:
            return False
    return True


def _prime(rng: random.Random, bits: int, e: int) -> int:
    while True:
        p = rng.getrandbits(bits) | (1 << (bits - 1)) | (1 << (bits - 2)) | 1
        if (p - 1) % e and _is_probable_prime(p, rng):
            return p


class RsaSigner:
    """Deterministic RS256 key pair (2048-bit) derived from a seeded
    stream, and a signer for JWTs; the benchmark's stand-in for the user
    pool that issues tokens."""

    def __init__(self, rng: random.Random) -> None:
        e = 65537
        p, q = _prime(rng, 1024, e), _prime(rng, 1024, e)
        self.n, self.e, self.kid = p * q, e, "bench-key"
        d = pow(e, -1, (p - 1) * (q - 1))
        public = rsa.RSAPublicNumbers(e, self.n)
        self._key = rsa.RSAPrivateNumbers(
            p, q, d, d % (p - 1), d % (q - 1), pow(q, -1, p), public
        ).private_key()

    def jwks(self) -> dict:
        def enc(x: int) -> str:
            return _b64url(x.to_bytes((x.bit_length() + 7) // 8, "big"))

        return {"keys": [{"kty": "RSA", "kid": self.kid, "alg": "RS256", "n": enc(self.n), "e": enc(self.e)}]}

    def sign(self, claims: dict) -> str:
        header = _b64url(json.dumps({"alg": "RS256", "kid": self.kid, "typ": "JWT"}).encode())
        payload = _b64url(json.dumps(claims, sort_keys=True).encode())
        # PKCS#1 v1.5 signatures are deterministic, so tokens stay seeded
        sig = self._key.sign(f"{header}.{payload}".encode("ascii"), padding.PKCS1v15(), hashes.SHA256())
        return f"{header}.{payload}.{_b64url(sig)}"


#: valid tokens expire far in the future and expired ones far in the past,
#: so token bytes do not depend on the wall clock
VALID_EXP = 4_102_444_800  # 2100-01-01
EXPIRED_EXP = 1_000_000_000  # 2001-09-09


@dataclass(frozen=True)
class Request:
    token: str
    tenant: str | None  # expected tenant; None = the token must be denied
    kind: str


#: tenant_queries request mix, as one cycle of 20 requests: every client
#: runs a seeded permutation of it over and over, so the mix is exact
QUERY_CYCLE = ("dashboard",) * 10 + ("regions",) * 5 + ("masked",) * 4 + ("rollup",)
TOKENS_PER_TENANT = 4
FRESH_TOKEN_SHARE = 0.05
EXPIRED_TOKEN_SHARE = 0.03
N_EXPIRED_TOKENS = 16


class RequestGen:
    """Seeded request streams for the closed-loop query clients: the kind
    follows ``QUERY_CYCLE``, the tenant is Zipf-chosen, its token drawn
    from a per-tenant pool; a few requests carry a never-seen (fresh) token
    and a few an expired one."""

    def __init__(self, seed: int) -> None:
        self.seed = seed
        tenants = ZipfSampler(rng_for(seed, "tenants"))
        self.signer = RsaSigner(rng_for(seed, "rsa-key"))
        rng = rng_for(seed, "token-pool")
        self.pool = {
            t: [self._token(t, VALID_EXP, rng) for _ in range(TOKENS_PER_TENANT)] for t in tenants.tenants
        }
        self.expired = [self._token(t, EXPIRED_EXP, rng) for t in rng.sample(tenants.tenants, N_EXPIRED_TOKENS)]

    def _token(self, tenant: str, exp: int, rng: random.Random) -> str:
        return self.signer.sign({"custom:tenantId": tenant, "exp": exp, "jti": f"{rng.getrandbits(64):016x}"})

    def stream(self, window: int, client: int):
        """Endless request stream of one client in one window."""
        rng = rng_for(self.seed, "requests", window, client)
        tenants = ZipfSampler(rng_for(self.seed, "tenants"), draw_rng=rng)
        cycle = list(QUERY_CYCLE)
        rng.shuffle(cycle)
        for i in itertools.count():
            kind = cycle[i % len(cycle)]
            u = rng.random()
            if u < EXPIRED_TOKEN_SHARE:
                yield Request(rng.choice(self.expired), None, kind)
                continue
            tenant = tenants()
            if u < EXPIRED_TOKEN_SHARE + FRESH_TOKEN_SHARE:
                token = self._token(tenant, VALID_EXP, rng)
            else:
                token = rng.choice(self.pool[tenant])
            yield Request(token, tenant, kind)
