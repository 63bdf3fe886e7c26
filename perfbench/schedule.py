"""Seeded op schedules for the benchmark.

A schedule is a list of rounds; each round holds every op of the workload
once, in an order drawn from the seed. The generator is a self-contained
splitmix64, so the same seed gives a byte-identical schedule on any Python
version. The seed decides nothing else the engine receives.
"""

MASK = (1 << 64) - 1


class SplitMix64:
    def __init__(self, seed):
        self.state = seed & MASK

    def next(self):
        self.state = (self.state + 0x9E3779B97F4A7C15) & MASK
        z = self.state
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & MASK
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & MASK
        return z ^ (z >> 31)

    def below(self, n):
        return self.next() % n


def rounds(ops, seed, count):
    """`count` rounds, each a seeded Fisher-Yates permutation of `ops`."""
    rng = SplitMix64(seed)
    out = []
    for _ in range(count):
        r = list(ops)
        for i in range(len(r) - 1, 0, -1):
            j = rng.below(i + 1)
            r[i], r[j] = r[j], r[i]
        out.append(r)
    return out


def render(rs):
    """The schedule file the benchmark JVM reads: one round a line."""
    return "".join(" ".join(r) + "\n" for r in rs)
