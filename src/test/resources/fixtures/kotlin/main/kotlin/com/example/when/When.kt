package com.example.`when`

class Config(val name: String)

fun whenTypeInference(mode: Int) {
    val config = when (mode) {
        0 -> Config("zero")
        1 -> Config("one")
        else -> Config("many")
    }
    println(config.name)
}
