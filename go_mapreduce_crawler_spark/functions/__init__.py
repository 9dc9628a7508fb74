from .exact import dec, money_sum, money_avg, revenue
from .text import words, words_sql
from .vectors import cosine_sim, dot, l2_norm

__all__ = ["dec", "money_sum", "money_avg", "revenue",
           "cosine_sim", "dot", "l2_norm", "words", "words_sql"]
